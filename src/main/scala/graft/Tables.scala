package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Shared testdata readers. The ONE place that touches session state:
 * events.parquet has shipped with two physical `ts` encodings across driver
 * testdata generations — TIMESTAMP(NANOS) (readable only as long via the
 * legacy session flag; µs resolution, so dividing to micros is lossless) and
 * native TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). The legacy flag is a
 * session conf, not a per-read option, so reading NANOS files requires the
 * session-level set; it is idempotent and additive (it only widens what the
 * reader accepts) but it IS a global side effect — which is why every query
 * family funnels through this single helper instead of setting it locally
 * (one documented footgun beats five copies).
 */
private[graft] object Tables {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events with `ts` normalized to a session-TZ TIMESTAMP regardless of the
    * file's physical encoding (see object doc). */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** The filters' unique (user_id, ts) measurement stream, z = avg event
    * value, and its DuckDB twin numbering each user's rows `rn` in ts order. */
  def userStream(s: SparkSession, dir: String): DataFrame =
    events(s, dir).groupBy(col("user_id"), col("ts")).agg(avg(col("value")).as("z"))

  val userStreamSql: String =
    """SELECT user_id, ts, avg(value) AS z,
      |       row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      |FROM events GROUP BY user_id, ts""".stripMargin

  /** Measurement stream with a unique (key, ts) so the sequential filters
    * and the DuckDB oracle replay rows in the same order: lineitem collapsed
    * per (suppkey, shipdate) to features x = avg quantity, label y = avg
    * price/1000; the SQL twin numbers each key's rows `rn`. */
  def regressionStream(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"), col("l_shipdate"))
      .agg(avg(col("l_quantity")).as("x"), (avg(col("l_extendedprice")) / 1000).as("y"))

  val regressionStreamSql: String =
    """SELECT l_suppkey AS key, l_shipdate AS ts,
      |       avg(l_quantity) AS x, avg(l_extendedprice)/1000 AS y,
      |       row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn
      |FROM lineitem GROUP BY l_suppkey, l_shipdate""".stripMargin
}
