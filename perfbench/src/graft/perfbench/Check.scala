package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Order-independent digest of a frame's exact contents. Every row is
 * rendered with `to_json`, which prints each double in the shortest form
 * that reads back to the same bits, so two frames digest equal only when
 * they hold the same rows bit for bit (up to a 2^-64 hash collision).
 */
final case class Digest(rows: Long, xor: Long, sum: java.math.BigDecimal)

object Check {
  def digest(df: DataFrame): Digest = {
    val h = xxhash64(to_json(struct(df.columns.sorted.map(c => col(s"`$c`")): _*)))
    val r = df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")),
      sum(col("h").cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) java.math.BigDecimal.ZERO else r.getDecimal(2))
  }

  /** Doubles compared by raw bits, recursively through arrays and rows. */
  def bitEqual(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: org.apache.spark.sql.Row, y: org.apache.spark.sql.Row) =>
      x.length == y.length && (0 until x.length).forall(i => bitEqual(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => bitEqual(u, v) }
    case (x, y) => x == y
  }

  /** A frame digested against itself with one double moved by one ulp must
    * read as a mismatch; so must a bit-compared row. Returns the failures. */
  def selfTest(spark: org.apache.spark.sql.SparkSession): Seq[String] = {
    import spark.implicits._
    val base = Seq(("a", 1L, Array(0.1, 0.2)), ("b", 2L, Array(0.3, 0.4))).toDF("k", "i", "v")
    val bumped = base.withColumn("v",
      when(col("k") === "b", array(col("v")(0), lit(Math.nextUp(0.4)))).otherwise(col("v")))
    val rowA = org.apache.spark.sql.Row("b", Seq(0.3, 0.4))
    val rowB = org.apache.spark.sql.Row("b", Seq(0.3, Math.nextUp(0.4)))
    Seq(
      if (digest(base) == digest(base.orderBy(col("k").desc))) None
      else Some("digest depends on row order"),
      if (digest(base) != digest(bumped)) None else Some("one-ulp change not reported by the digest"),
      if (bitEqual(rowA, rowA) && !bitEqual(rowA, rowB)) None else Some("one-ulp change not reported by bitEqual")
    ).flatten
  }
}
