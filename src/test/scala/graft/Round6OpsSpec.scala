package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.operators.CorpusStats
import graft.text.TextFunctions

/**
 * Behavior specs for the round-6 text operators: canonicalization and
 * bigram surprisal (the k-NN graph and product-quantization specs live in
 * `AnnRecallSpec`). The driver's DuckDB oracle pins exact outputs on the
 * real tables; these pin the SEMANTICS on constructed inputs where the
 * right answer is known by inspection.
 */
class Round6OpsSpec extends AnyFunSuite with SparkTestSession {

  test("normalize folds case/whitespace/stuttered punctuation and is idempotent") {
    import spark.implicits._
    val df = Seq(
      (1L, "  Hello   WORLD!!!  "),
      (2L, "hello world!"),
      (3L, "a--b...c???d"),
      (4L, "Tabs\tand\nnewlines  collapse")
    ).toDF("id", "t")
    val out = df.select($"id", TextFunctions.normalize($"t").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1) == "hello world!")
    assert(out(2) == "hello world!") // 1 and 2 now hash-identical: the dedup win
    assert(out(3) == "a-b.c?d")
    assert(out(4) == "tabs and newlines collapse")
    // idempotence: normalizing a normal form is the identity
    val twice = df.select(TextFunctions.normalize(TextFunctions.normalize($"t")).as("n2"),
        TextFunctions.normalize($"t").as("n1"))
      .where($"n1" =!= $"n2").count()
    assert(twice == 0L)
  }

  test("bigram surprisal: templated repetition scores zero bits, novel continuations score high") {
    import spark.implicits._
    // doc 1 repeats one bigram — its continuation is fully predictable;
    // doc 2's continuations are unique given a shared prefix token
    val df = Seq(
      (1L, "go north go north go north go north"),
      (2L, "go south go west go east go up"),
      (3L, "solo")
    ).toDF("doc_id", "text")
    val out = CorpusStats.bigramSurprisal(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 3 has <2 tokens: survives with zero counts
    assert(out(3L) == ((0L, 0L)))
    assert(out(1L)._1 == 7L && out(2L)._1 == 7L)
    // "go north" occurs 4x of 8 go-prefixed bigrams -> floor(log2(8/4)) = 1 bit;
    // "north go" 3x of 4 -> floor(log2(4/3)) = 0 bits -> sum = 4*1 + 3*0 = 4
    assert(out(1L)._2 == 4L, s"doc1 bits ${out(1L)}")
    // each "go X" occurs once of 8 -> 3 bits x4; "X go" once of 1 -> 0 x3
    assert(out(2L)._2 == 12L, s"doc2 bits ${out(2L)}")
  }
}
