package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Multi-pattern substring matching for blocklist / policy filtering — the
 * curation step that runs over every byte of a 100 TB corpus, so it has to
 * be one linear scan regardless of how many patterns are active.
 *
 * Classic Aho–Corasick over the text BYTES: the automaton (goto table +
 * failure links + per-node emit lists) is built once on the driver from the
 * pattern list and rides into codegen as ONE reference object; each row is
 * a single O(len) walk emitting per-pattern occurrence counts. Compare the
 * naive formulation — `patterns.length` `locate`/`replace` passes per row —
 * which rereads the text once per pattern and leaves codegen for regex at
 * the first alternation.
 *
 * Matching is over raw UTF-8 bytes, so patterns match exactly like
 * byte-level `contains` (multi-byte code points included: UTF-8 is
 * self-synchronizing for full-string patterns).
 */
class BlocklistKernel(val patterns: Array[String]) extends Serializable {
  require(patterns.nonEmpty, "need at least one pattern")
  require(patterns.distinct.length == patterns.length, "duplicate pattern")
  require(patterns.forall(_.nonEmpty), "empty pattern")

  private val pats: Array[Array[Byte]] = patterns.map(_.getBytes("UTF-8"))

  // --- trie build (driver-side, tiny: Σ pattern lengths nodes) ---
  private val (gotoTab, fail, emits) = {
    val maxNodes = pats.map(_.length).sum + 1
    val g = Array.fill(maxNodes, 256)(-1)
    val emitAt = Array.fill(maxNodes)(List.empty[Int])
    var nNodes = 1
    for ((p, pi) <- pats.zipWithIndex) {
      var s = 0
      for (b <- p) {
        val c = b & 0xff
        if (g(s)(c) == -1) { g(s)(c) = nNodes; nNodes += 1 }
        s = g(s)(c)
      }
      emitAt(s) ::= pi
    }
    // BFS failure links; goto is completed in place (dense DFA — every
    // (node, byte) transition is O(1) at match time, no failure chasing).
    val f = new Array[Int](nNodes)
    val queue = scala.collection.mutable.Queue.empty[Int]
    for (c <- 0 until 256) {
      if (g(0)(c) == -1) g(0)(c) = 0
      else { f(g(0)(c)) = 0; queue += g(0)(c) }
    }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      emitAt(s) = emitAt(s) ++ emitAt(f(s))
      for (c <- 0 until 256) {
        val t = g(s)(c)
        if (t == -1) g(s)(c) = g(f(s))(c)
        else { f(t) = g(f(s))(c); queue += t }
      }
    }
    (Array.tabulate(nNodes)(s => g(s)), f, emitAt.map(_.toArray))
  }

  def size: Int = patterns.length

  /** Per-pattern occurrence counts (ALL occurrences, overlaps included)
    * over the UTF-8 bytes of `text` — one linear walk. */
  def counts(text: UTF8String): GenericArrayData = {
    val out = new Array[Long](pats.length)
    val bytes = text.getBytes
    var s = 0
    var i = 0
    while (i < bytes.length) {
      s = gotoTab(s)(bytes(i) & 0xff)
      val em = emits(s)
      var j = 0
      while (j < em.length) { out(em(j)) += 1L; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}

object Blocklist {
  def kernel(patterns: Seq[String]): BlocklistKernel =
    new BlocklistKernel(patterns.toArray)

  /** `array<bigint>` of per-pattern occurrence counts for a string column —
    * one automaton walk per row (null text gives null). */
  def counts(text: Column, k: BlocklistKernel): Column =
    Bridge.invoke(k, "counts", ArrayType(LongType, containsNull = false), Seq(text))
}
