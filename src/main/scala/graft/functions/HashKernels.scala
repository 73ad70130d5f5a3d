package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.text.TextFunctions.P

/**
 * JVM kernels behind the native text-hash expressions. Each method is
 * bit-identical to the declarative TextFunctions formulation it accelerates
 * (HashExpressionsSpec asserts equality; the DuckDB oracles replay the same
 * math independently):
 *
 *  - tokens: `filter(split(lower(text), "[^a-z0-9]+"), _ != "")` — lowercase
 *    via UTF8String.toLowerCase (the exact collation Spark's `lower` uses),
 *    then the same Java regex.
 *  - stableHash(s): first 8 hex chars of md5(s) as unsigned int, mod P.
 *  - tokenHash60(s): first 15 hex chars of md5(s) = top 60 bits.
 *
 * One MessageDigest per thread (digest.reset() per value); outputs are
 * UnsafeArrayData so downstream codegen reads primitives without boxing.
 */
class HashKernels extends Serializable {

  // @transient: the anonymous ThreadLocal subclass is not serializable; the
  // lazy val re-initializes after the kernel instance ships to executors.
  @transient private lazy val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** The one shared instance prints as its class, so the plans that call it
    * (and the names Spark gives their unaliased columns) read the same in
    * every JVM. */
  override def toString: String = "HashKernels"

  private def tokenize(text: UTF8String): Array[String] =
    text.toLowerCase.toString.split("[^a-z0-9]+").filter(_.nonEmpty)

  /** One-pass duplicate word-n-gram stats for n = 1, 2, 3: (total, distinct)
    * counts — the Gopher/Dolma repetition quality signals. Joins with a
    * single space, identical to the declarative wordNGrams definition. */
  def ngramStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = tokenize(text)
    val t = toks.length
    val out = new Array[Any](6)
    var n = 1
    while (n <= 3) {
      val total = math.max(0, t - n + 1)
      val set = new java.util.HashSet[String](math.max(4, total * 2))
      var i = 0
      while (i + n <= t) {
        if (n == 1) set.add(toks(i))
        else {
          val sb = new java.lang.StringBuilder(toks(i))
          var k = 1
          while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
          set.add(sb.toString)
        }
        i += 1
      }
      out((n - 1) * 2) = total.toLong
      out((n - 1) * 2 + 1) = set.size.toLong
      n += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  /** Unsigned 32-bit value of the first 4 md5 bytes, mod P. */
  private def hash31(bytes: Array[Byte]): Long = {
    val d = md5.get().digest(bytes)
    (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % P
  }

  /** Top 60 bits of md5 (= first 15 hex chars parsed base 16). */
  private def hash60(bytes: Array[Byte]): Long = {
    val d = md5.get().digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** All word n-grams as strings, in order WITH duplicates (the heavy-hitter
    * input); EMPTY array for null text or fewer than n tokens, matching the
    * declarative `when(size(toks) >= n, transform(...)).otherwise(array())`. */
  def wordNGrams(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val toks = tokenize(text)
    if (toks.length < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct word-n-gram shingle hashes, first-occurrence order; EMPTY array
    * for null text or fewer than n tokens (matching the
    * `when(...).otherwise(array())` of the declarative form). */
  def shingleHashSet(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val toks = tokenize(text)
    if (toks.length < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val seen = new java.util.HashSet[Long](toks.length * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Long](toks.length)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val v = hash31(sb.toString.getBytes(StandardCharsets.UTF_8))
      if (seen.add(v)) out += v
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out.toArray)
  }

  /** Winnowed window hashes: polynomial rolling hash (base
    * [[HashKernels.WinnowB]], modulus [[HashKernels.WinnowM]]) of every
    * `width`-codepoint window, KEEPING a window iff its own hash selects it
    * (h mod rate == 0) — content-keyed sampling, so selection is invariant
    * to the window's offset in the document. O(1) per position via the
    * rolling update (the md5-per-window formulation this replaces cost two
    * digest block transforms + allocations per position — ~100x). Returns
    * the kept hashes in position order (duplicates preserved); EMPTY array
    * for docs shorter than `width`. Collision rate is ~1/1e12 per window
    * pair (M is prime, codepoints < M), negligible against the >=2-distinct-
    * docs flagging semantics. */
  def winnowedHashes(text: UTF8String, width: Int, rate: Int): ArrayData = {
    import HashKernels.{WinnowB => B, WinnowM => M}
    if (text == null) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val s = text.toString
    val sl = s.length
    val n = s.codePointCount(0, sl)
    if (n < width) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val cps = new Array[Int](n)
    var i = 0
    var ci = 0
    while (i < sl) {
      val cp = s.codePointAt(i)
      cps(ci) = cp; ci += 1; i += Character.charCount(cp)
    }
    var bw = 1L // B^(width-1) mod M
    i = 0
    while (i < width - 1) { bw = bw * B % M; i += 1 }
    var h = 0L
    i = 0
    while (i < width) { h = (h * B + cps(i)) % M; i += 1 }
    val out = new scala.collection.mutable.ArrayBuffer[Long](n / rate + 1)
    if (h % rate == 0) out += h
    var p = 1
    while (p <= n - width) {
      h = (((h - cps(p - 1) * bw % M + M) % M) * B + cps(p + width - 1)) % M
      if (h % rate == 0) out += h
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out.toArray)
  }

  /** Count of gram hashes whose k Bloom probes are ALL set in `words`:
    * probe i of gram g = stableHash("b&lt;i&gt;:&lt;g decimal&gt;") % m — byte-identical
    * to the declarative `filter(grams, g => bloomMightContain(...))`
    * formulation (which runs interpreted: HOF lambdas are CodegenFallback
    * and re-walk a 3×md5 expression tree per gram). One kernel call per
    * row; probes short-circuit on the first clear bit. */
  def bloomHits(grams: ArrayData, words: Array[Long], k: Int, m: Int): Int = {
    var c = 0
    var i = 0
    val n = grams.numElements()
    while (i < n) {
      val g = grams.getLong(i)
      var ok = true
      var j = 0
      while (ok && j < k) {
        val bytes = ("b" + j + ":" + g).getBytes(StandardCharsets.UTF_8)
        val p = hash31(bytes) % m
        ok = (words((p / 64).toInt) & (1L << (p % 64).toInt)) != 0L
        j += 1
      }
      if (ok) c += 1
      i += 1
    }
    c
  }

  /** Per-token hashes in token order (31-bit mod-P or 60-bit md5 prefix);
    * null stays null (matching `transform(tokens(text), hash)`). */
  def tokenHashes(text: UTF8String, bits: Int): ArrayData = {
    if (text == null) return null
    val toks = tokenize(text)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val b = toks(i).getBytes(StandardCharsets.UTF_8)
      out(i) = if (bits == 60) hash60(b) else hash31(b)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object HashKernels {
  val INSTANCE = new HashKernels

  /** Simhash of a token-hash array: bit j of the result is set when more
    * tokens have bit j set than clear (one signed counter per bit). */
  def simhash(arr: ArrayData, bits: Int): Long = {
    val counts = new Array[Long](bits)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < bits) {
        counts(j) += (if ((h & (1L << j)) != 0L) 1L else -1L)
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) > 0L) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Polynomial rolling hash of an array<long>: fold (acc * 31 + h) mod P
    * from 0, the document fingerprint fold. */
  def rollingHash(arr: ArrayData): Long = {
    var acc = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) { acc = (acc * 31L + arr.getLong(i)) % P; i += 1 }
    acc
  }

  /** Winnowed-window rolling-hash constants: the first prime above 1e12
    * (keeps cp*M and the replay's 40-term sums inside int64 in ANY engine)
    * and an odd base well above the codepoint alphabet's bit-mixing needs. */
  val WinnowM = 1000000000039L
  val WinnowB = 131L
}

/** k min-hashes of a shingle-hash set in one pass: sig_j = min over x of
  * (A_j * x + B_j) mod P, sentinel P for an empty set. The coefficients
  * derive from j (MinHashLSH.coefA/coefB), so kernels of equal size are
  * equal and so are the plans that call them. */
case class MinHashKernel(numHashes: Int) {
  @transient private lazy val as = Array.tabulate(numHashes)(graft.dedup.MinHashLSH.coefA)
  @transient private lazy val bs = Array.tabulate(numHashes)(graft.dedup.MinHashLSH.coefB)

  def signature(arr: ArrayData): ArrayData = {
    val a = as
    val b = bs
    val k = numHashes
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, P)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val x = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = (a(j) * x + b(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

/** Per-document token statistics in ONE tokenize pass: token count, sum of
  * token lengths, and per-stopword-list hit counts. Powers stopwordRatio /
  * meanTokenLen / qualityScore / langId without interpreted per-token
  * lambdas. Tokenization is identical to HashKernels (lower + regex split).
  * Equal lists give equal kernels. */
case class TokenStatsKernel(lists: Seq[Seq[String]]) {
  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    lists.toArray.map { l =>
      val s = new java.util.HashSet[String](l.length * 2)
      l.foreach(s.add)
      s
    }

  /** Returns {ntoks, lensum, hits[]} as an InternalRow. */
  def stats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = text.toLowerCase.toString.split("[^a-z0-9]+").filter(_.nonEmpty)
    val sets = this.sets
    var lensum = 0L
    val hits = new Array[Long](sets.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      lensum += t.length
      var j = 0
      while (j < sets.length) {
        if (sets(j).contains(t)) hits(j) += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](toks.length.toLong, lensum, UnsafeArrayData.fromPrimitiveArray(hits)))
  }
}
