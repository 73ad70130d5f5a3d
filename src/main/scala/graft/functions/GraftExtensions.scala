package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.Bridge

import graft.text.TextFunctions

/**
 * SparkSessionExtensions registering graft's native functions in the
 * function registry, so the SQL surface can use them directly:
 *
 *   spark.sql("SELECT shingle_hash_set(text, 3) FROM docs")
 *
 * Each SQL name calls the Column builder of the same function, so SQL and
 * the Column API build the same plan. To add one, add its usage line and
 * builder to `functions`.
 *
 * Enable with:
 *   SparkSession.builder()
 *     .withExtensions(new GraftExtensions)                       // code
 *   // or: --conf spark.sql.extensions=graft.functions.GraftExtensions
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** The arguments of one SQL call: columns, or literal integers. */
  private class Args(fn: String, args: Seq[Expression]) {
    def col(i: Int): Column = Bridge.column(args(i))
    def int(i: Int): Int = args(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal integer argument, got $other")
    }
  }

  /** Usage (the SQL name, then one name per argument) and builder. */
  private val functions: Seq[(String, Args => Column)] = Seq(
    "shingle_hash_set(text, n)" -> (a => HashExpressions.shingleHashSet(a.col(0), a.int(1))),
    "token_hash_array(text, bits)" -> (a => HashExpressions.tokenHashes(a.col(0), a.int(1))),
    "minhash_signature(sset, numHashes)" -> (a => HashExpressions.minhashSignature(a.col(0), a.int(1))),
    "simhash_fingerprint(toks, bits)" -> (a => HashExpressions.simhashFingerprint(a.col(0), a.int(1))),
    "word_ngrams(text, n)" -> (a => HashExpressions.wordNGrams(a.col(0), a.int(1))),
    "ngram_stats(text)" -> (a => HashExpressions.ngramStats(a.col(0))),
    "rolling_hash(hashes)" -> (a => HashExpressions.rollingHash(a.col(0))),
    "winnowed_hashes(text, width, rate)" ->
      (a => HashExpressions.winnowedHashes(a.col(0), a.int(1), a.int(2))),
    // builtin RegExpReplace nodes, the fixed redaction contract of
    // TextFunctions.redactPii
    "redact_pii(text)" -> (a => TextFunctions.redactPii(a.col(0))))

  override def apply(ext: SparkSessionExtensions): Unit =
    for ((usage, build) <- functions) {
      val name = usage.takeWhile(_ != '(')
      val arity = usage.count(_ == ',') + 1
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (args: Seq[Expression]) => {
          require(args.size == arity, usage)
          Bridge.expression(build(new Args(name, args)))
        }))
    }
}
