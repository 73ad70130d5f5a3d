package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Tokenizer-faithful token counting: a corpus-trained subword vocabulary
 * plus a greedy longest-prefix-match tokenizer (the WordPiece/BPE-inference
 * family — linear-time greedy segmentation against a learned merge
 * vocabulary). Every budget / packing / curriculum operator in the engine
 * takes a caller-supplied token-count column; this operator supplies one
 * that counts SUBWORD tokens the way a real training tokenizer would,
 * instead of assuming token == whitespace word.
 *
 * Train: candidate grams are every length-2..maxLen character window of
 * every corpus word; the vocabulary is the top-`vocabSize` grams by
 * occurrence (ties broken lexicographically) above `minCount` — a pure
 * two-shuffle count + TakeOrderedAndProject top-k, the same shape as
 * `q_top_ngrams`. The trained vocabulary is a bounded driver model
 * (vocabSize rows), broadcast into the apply kernel exactly like the NB
 * classifier's vocab — never a per-row join.
 *
 * Apply: per word, walk left to right; at each position take the LONGEST
 * vocab gram starting there (maxLen first), else emit a single character.
 * The walk is a native codegen kernel over the token array (one kernel
 * call per row inside whole-stage codegen; the vocab rides as a codegen
 * reference object) — O(len · maxLen) hash probes per word, zero UDFs.
 *
 * At 100 TB: training is two shuffles ending in a top-k (the gram count
 * table never materializes on the driver — only the final vocabSize rows);
 * apply is map-side with a broadcast model, so it composes with any
 * downstream budget/packing shuffle for free. Deterministic end to end:
 * same corpus → same vocab → same counts, which the DuckDB oracle replays
 * exactly (count + top-k, then a recursive longest-prefix walk).
 */
object SubwordTokenizer {

  /**
   * Train the subword vocabulary: top-`vocabSize` character grams of length
   * 2..`maxLen` across all corpus words, by (count desc, gram asc), counted
   * with multiplicity, kept only above `minCount`. Returns (gram, cnt).
   */
  def trainVocab(
      docs: DataFrame,
      textCol: String,
      maxLen: Int = 4,
      vocabSize: Int = 256,
      minCount: Long = 2L): DataFrame = {
    require(maxLen >= 2, s"maxLen must be >= 2, got $maxLen")
    val words = docs.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
    // every length-L window of every word, L in [2, maxLen] — the native
    // one-pass kernel (round 13: the nested transform/filter/flatten HOF
    // formulation ran every lambda interpreted and allocated a sequence
    // array per length; BpeKernels.charGrams emits the identical length-major
    // window multiset in one kernel call)
    val grams = words.select(explode(
      graft.functions.BpeExpressions.charGrams(col("w"), maxLen)).as("gram"))
    grams.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(vocabSize)
  }

  /** Build the bounded broadcast apply-model from a trained vocab frame. */
  def kernel(vocab: DataFrame, maxLen: Int = 4): SubwordKernel =
    new SubwordKernel(vocab.select("gram").collect().map(_.getString(0)), maxLen)

  /** Subword-token count of an `array<string>` word column under a trained
    * kernel — the drop-in `sizeCol` source for budgetAllocation /
    * ShardPacking / TrainingOrder. */
  def subwordCount(words: Column, k: SubwordKernel): Column =
    Bridge.invoke(k, "countAll", LongType, Seq(words))

  /** Convenience (and the py4j entry point): tokenize `textCol` and append
    * its subword-token count as `outCol`. */
  def withSubwordCount(
      df: DataFrame, textCol: String, k: SubwordKernel, outCol: String): DataFrame =
    df.withColumn(outCol, subwordCount(TextFunctions.tokens(col(textCol)), k))
}

/** The greedy longest-prefix-match segmenter over a fixed gram vocabulary.
  * Rides into tasks as one codegen reference object. */
class SubwordKernel(grams: Array[String], val maxLen: Int) extends Serializable {
  require(grams.length <= (1 << 22),
    s"subword vocab has ${grams.length} grams — the kernel is a broadcast " +
      "driver model; cap trainVocab's vocabSize (real tokenizers use <= ~1M)")
  private val set = new java.util.HashSet[String](java.util.Arrays.asList(grams: _*))

  def size: Int = set.size()

  /** Number of subword tokens the greedy walk emits for one word. */
  def countWord(w: String): Long = {
    val n = w.length
    var pos = 0
    var cnt = 0L
    while (pos < n) {
      var step = 1
      var l = math.min(maxLen, n - pos)
      while (l >= 2 && step == 1) {
        if (set.contains(w.substring(pos, pos + l))) step = l
        l -= 1
      }
      cnt += 1
      pos += step
    }
    cnt
  }

  /** Σ countWord over an array<string> of words. */
  def countAll(arr: ArrayData): Long = {
    var s = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      s += countWord(arr.getUTF8String(i).toString)
      i += 1
    }
    s
  }
}
