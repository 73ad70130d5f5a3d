package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}

/**
 * Native folds for the dedup hot paths. Spark's higher-order functions
 * (aggregate/zip_with/transform) are CodegenFallback — the per-element
 * lambdas run interpreted with a fresh accumulator array per step. At
 * 100 TB the signature fold runs per shingle per document, so each column
 * here is one call of a [[HashKernels]] method: a tight primitive loop
 * inside whole-stage codegen, the same method when codegen is off.
 *
 * Semantics are bit-identical to the HOF formulations they replace
 * (HashExpressionsSpec, and local_verify's exact oracles): the DuckDB
 * replay SQL in the oracles is unchanged. Null text gives null unless a
 * builder says otherwise.
 */
object HashExpressions {
  private val kernels = HashKernels.INSTANCE
  private val longs = ArrayType(LongType, containsNull = false)

  /** Distinct word-n-gram shingle hashes of a text column; EMPTY (never
    * null) for null text or docs shorter than n tokens, matching
    * TextFunctions.shingleHashSet exactly. */
  def shingleHashSet(text: Column, n: Int): Column =
    Bridge.invoke(kernels, "shingleHashSet", longs, Seq(text, lit(n)), nullSafe = false)

  /** All word n-grams as strings (in order, with duplicates) in one pass —
    * the heavy-hitter / n-gram LM input; EMPTY for null text. */
  def wordNGrams(text: Column, n: Int): Column =
    Bridge.invoke(kernels, "wordNGrams", ArrayType(StringType, containsNull = false),
      Seq(text, lit(n)), nullSafe = false)

  /** {n1,d1,n2,d2,n3,d3}: total and distinct word-n-gram counts for
    * n = 1, 2, 3 in ONE pass (the declarative sequence+transform form
    * re-evaluates the gram array once per derived metric). */
  def ngramStats(text: Column): Column =
    Bridge.invoke(kernels, "ngramStats",
      StructType(Seq("n1", "d1", "n2", "d2", "n3", "d3").map(StructField(_, LongType, nullable = false))),
      Seq(text))

  /** {ntoks, lensum, hits[]} token statistics in one pass; `lists` are the
    * stopword lists counted into `hits` (by position). */
  def tokenStats(text: Column, lists: Seq[Seq[String]]): Column =
    Bridge.invoke(TokenStatsKernel(lists), "stats", StructType(Seq(
      StructField("ntoks", LongType, nullable = false),
      StructField("lensum", LongType, nullable = false),
      StructField("hits", longs, nullable = false))), Seq(text))

  /** Polynomial rolling hash of an array<long> column. */
  def rollingHash(hashes: Column): Column =
    Bridge.invoke(HashKernels, "rollingHash", LongType, Seq(hashes))

  /** Winnowed (content-selected) window hashes of a text column — the
    * repeated-substring detection projection; EMPTY for null text. */
  def winnowedHashes(text: Column, width: Int, rate: Int): Column =
    Bridge.invoke(kernels, "winnowedHashes", longs, Seq(text, lit(width), lit(rate)), nullSafe = false)

  /** Per-token hash array (bits = 31 or 60) of a text column. */
  def tokenHashes(text: Column, bits: Int): Column = {
    require(bits == 31 || bits == 60, "bits must be 31 or 60")
    Bridge.invoke(kernels, "tokenHashes", longs, Seq(text, lit(bits)))
  }

  /** k-minhash signature of an array<long> shingle-hash set. */
  def minhashSignature(sset: Column, numHashes: Int): Column =
    Bridge.invoke(MinHashKernel(numHashes), "signature", longs, Seq(sset))

  /** Simhash fingerprint of an array<long> token-hash column. */
  def simhashFingerprint(toks: Column, bits: Int): Column =
    Bridge.invoke(HashKernels, "simhash", LongType, Seq(toks, lit(bits)))

  /** Count of grams whose k Bloom probes are all set in `words` (which
    * rides the plan as one object, not as literal sub-expressions). */
  def bloomHits(grams: Column, words: Array[Long], k: Int, m: Int): Column =
    Bridge.invoke(kernels, "bloomHits", IntegerType,
      Seq(grams, Bridge.column(Literal.fromObject(words)), lit(k), lit(m)))
}
