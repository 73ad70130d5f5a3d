package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Unicode text kernels: NFC normalization and script-histogram codepoint
 * classification. Every text operator in the book tokenizes ASCII-style;
 * these are the entry point for real multilingual corpora — the round-11
 * "largest real-user gap" closure.
 *
 * Both kernels are engine-replayable by construction:
 *  - NFC is a deterministic Unicode algorithm (UAX #15); java.text.Normalizer
 *    and DuckDB's utf8proc produce identical bytes for identical input, so
 *    the oracle uses DuckDB's `nfc_normalize()` directly.
 *  - Script classification is a PURE CODEPOINT-RANGE table (below), not a
 *    library property lookup, so the oracle replays it as CASE expressions
 *    over `unicode(substring(...))` — no ICU-version dependence.
 *
 * Reference surface: artan has no text ops at all (cf.
 * /root/reference/README.md:7) — this extends the pipeline family.
 */
object UnicodeKernels extends Serializable {

  /** Script bucket ranges, each bucket a list of inclusive [lo, hi] codepoint
    * ranges. Order is the contract: histogram index i = bucket i; dominant-
    * script ties break by this order. Index 0 (digits) is excluded from
    * dominance. The ranges are the core blocks of each script — deliberately
    * NOT exhaustive Unicode property sets (extension blocks, presentation
    * forms), because a fixed integer table replays in any engine forever. */
  val Buckets: Seq[(String, Seq[(Int, Int)])] = Seq(
    "digit" -> Seq((0x30, 0x39)),
    // latn includes Latin Extended Additional (0x1E00-0x1EFF) — Vietnamese
    // (round 12; the round-11 table dropped its tone-marked vowels to
    // unclassified, skewing dominant-script for Vietnamese corpora)
    "latn"  -> Seq((0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F), (0x1E00, 0x1EFF)),
    "grek"  -> Seq((0x370, 0x3FF)),
    "cyrl"  -> Seq((0x400, 0x4FF)),
    "hebr"  -> Seq((0x590, 0x5FF)),
    "arab"  -> Seq((0x600, 0x6FF)),
    "deva"  -> Seq((0x900, 0x97F)),
    // kana includes Katakana Phonetic Extensions + halfwidth Katakana
    "kana"  -> Seq((0x3040, 0x30FF), (0x31F0, 0x31FF), (0xFF66, 0xFF9D)),
    // hani includes CJK Extension A
    "hani"  -> Seq((0x3400, 0x4DBF), (0x4E00, 0x9FFF)),
    "hang"  -> Seq((0xAC00, 0xD7A3)),
    // appended (not inserted) so rounds 11's bucket indices stay stable
    "thai"  -> Seq((0x0E00, 0x0E7F)))

  val NumBuckets: Int = Buckets.length

  // flattened (lo, hi, bucket) triples for the classification loop
  private val flat: Array[(Int, Int, Int)] =
    Buckets.zipWithIndex.flatMap { case ((_, rs), i) => rs.map(r => (r._1, r._2, i)) }.toArray

  def classify(cp: Int): Int = {
    var i = 0
    while (i < flat.length) {
      val (lo, hi, b) = flat(i)
      if (cp >= lo && cp <= hi) return b
      i += 1
    }
    -1
  }

  /** NFC-normalize; returns the input object unchanged when already NFC
    * (the overwhelmingly common case — no re-encode on the hot path). */
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) text
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }

  /** A codepoint is token material iff its general category is a letter,
    * mark or number — `Character.getType` 1..11 (L* 1-5, M* 6-8, N* 9-11),
    * exactly the `[\p{L}\p{M}\p{N}]` class Java regex and RE2 share. */
  @inline def isTokenCp(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t >= Character.UPPERCASE_LETTER && t <= Character.OTHER_NUMBER
  }

  /** Scriptio-continua ranges tokenized PER CODEPOINT (round 12): Han and
    * Kana have no word separators, so a maximal `\p{L}` run makes an entire
    * Chinese/Japanese sentence ONE token — token counts, budget allocation
    * and fertility were meaningless for those corpora. Splitting Han/Kana
    * runs per codepoint is the standard fix (BERT's CJK treatment). A fixed
    * RANGE table, not a property lookup, so the DuckDB oracle replays it as
    * a regex class built from the same constants. Thai (also unspaced) is
    * deliberately NOT split: its combining vowels/tone marks (`\p{M}`)
    * would detach from their base consonants — runs stay the honest unit
    * there. */
  val CjkSplit: Seq[(Int, Int)] = Seq(
    // Hiragana + Katakana, EXCLUDING the combining voicing marks
    // U+3099/U+309A (round 13): NFD-form Japanese (か + ゙) must keep the
    // dakuten/handakuten attached to its base kana — with the marks in the
    // split class they became bare-mark tokens, the exact detachment
    // failure the Thai no-split rule exists to avoid. The marks instead
    // ride the `[゙-゚]*` tail of [[cjkSplitRegex]] / the kernel's
    // voicing-mark absorption loop, so NFD "が" is ONE two-codepoint
    // base+mark token (NFC input was and stays a single precomposed cp).
    (0x3040, 0x3098),
    (0x309B, 0x30FF),
    (0x31F0, 0x31FF),   // Katakana Phonetic Extensions
    (0x3400, 0x4DBF),   // CJK Unified Ideographs Extension A
    (0x4E00, 0x9FFF),   // CJK Unified Ideographs
    (0xFF66, 0xFF9D))   // halfwidth Katakana

  /** The combining kana voicing marks (dakuten U+3099, handakuten U+309A):
    * absorbed into the PRECEDING CJK-split token, never split off. */
  val KanaVoicingLo = 0x3099
  val KanaVoicingHi = 0x309A
  @inline def isKanaVoicingCp(cp: Int): Boolean =
    cp >= KanaVoicingLo && cp <= KanaVoicingHi

  /** The [[CjkSplit]] ranges as a regex character-class body,
    * `\x{XXXX}-\x{XXXX}` escapes — identical syntax in Java regex and RE2. */
  def cjkSplitClass: String =
    CjkSplit.map { case (lo, hi) => f"\\x{$lo%04X}-\\x{$hi%04X}" }.mkString

  /** The full split-spacing group: one CJK-split codepoint plus any
    * immediately following kana voicing marks. Shared by
    * [[graft.text.UnicodeText.uTokens]] and the DuckDB oracle (same string,
    * valid in Java regex and RE2) so the two engines cannot drift. */
  def cjkSplitRegex: String =
    f"([$cjkSplitClass][\\x{${KanaVoicingLo}%04X}-\\x{${KanaVoicingHi}%04X}]*)"

  @inline def isCjkSplitCp(cp: Int): Boolean = {
    var i = 0
    while (i < CjkSplitFlat.length) {
      if (cp >= CjkSplitFlat(i) && cp <= CjkSplitFlat(i + 1)) return true
      i += 2
    }
    false
  }
  private val CjkSplitFlat: Array[Int] =
    CjkSplit.flatMap { case (lo, hi) => Seq(lo, hi) }.toArray

  /** One-pass (n_tokens, n_distinct, cp_len_sum) over the \p{L}\p{M}\p{N}
    * token runs of a string — replaces split + array_distinct + aggregate
    * HOF (the latter runs interpreted per token; this stays in whole-stage
    * codegen with one HashSet per row and no intermediate arrays). Han/Kana
    * codepoints ([[CjkSplit]]) each count as their OWN token (round 12),
    * matching [[graft.text.UnicodeText.uTokens]]'s split-spacing rewrite. */
  def uTokenStats(text: UTF8String): UnsafeArrayData = {
    val s = text.toString
    val seen = new java.util.HashSet[String]()
    var nTokens = 0L
    var cpLen = 0L
    var i = 0
    var runStart = -1
    val n = s.length
    while (i <= n) {
      val cp = if (i < n) s.codePointAt(i) else -1
      val isTok = i < n && isTokenCp(cp)
      if (isTok && isCjkSplitCp(cp)) {
        if (runStart >= 0) { nTokens += 1; seen.add(s.substring(runStart, i)); runStart = -1 }
        // absorb trailing kana voicing marks (U+3099/309A) into this token
        // (round 13) — mirrors the `[...]*` tail of cjkSplitRegex
        var j = i + Character.charCount(cp)
        cpLen += 1
        while (j < n && isKanaVoicingCp(s.codePointAt(j))) { cpLen += 1; j += 1 }
        nTokens += 1
        seen.add(s.substring(i, j))
        i = j
      } else {
        if (isTok) {
          if (runStart < 0) runStart = i
          cpLen += 1
        } else if (runStart >= 0) {
          nTokens += 1
          seen.add(s.substring(runStart, i))
          runStart = -1
        }
        i += (if (i < n) Character.charCount(cp) else 1)
      }
    }
    UnsafeArrayData.fromPrimitiveArray(Array(nTokens, seen.size.toLong, cpLen))
  }

  /** Codepoint counts per script bucket (length NumBuckets), one pass. */
  def scriptHistogram(text: UTF8String): UnsafeArrayData = {
    val counts = new Array[Long](NumBuckets)
    val s = text.toString
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      val b = classify(cp)
      if (b >= 0) counts(b) += 1
      i += Character.charCount(cp)
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }
}

/** Null text gives null from each builder. */
object UnicodeExpressions {
  private val longs = ArrayType(LongType, containsNull = false)

  /** Column wrapper: NFC normalization. */
  def nfcNormalize(text: Column): Column =
    Bridge.invoke(UnicodeKernels, "nfc", StringType, Seq(text))

  /** Column wrapper: per-script codepoint histogram,
    * array<long>[UnicodeKernels.NumBuckets] in bucket order. */
  def scriptHistogram(text: Column): Column =
    Bridge.invoke(UnicodeKernels, "scriptHistogram", longs, Seq(text))

  /** Column wrapper: one-pass [n_tokens, n_distinct, cp_len_sum]. */
  def uTokenStats(text: Column): Column =
    Bridge.invoke(UnicodeKernels, "uTokenStats", longs, Seq(text))
}
