package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Generated fold inputs: unique (key, time) rows and rows with ties. */
final case class FoldInputs(unique: DataFrame, dup: DataFrame, uRows: Int, dRows: Int)

/**
 * The fold inputs take their shape from the book's own filter input:
 * q_lkf_blr and q_rls fold lineitem grouped by (supplier, ship date). At the
 * sf0.01 scale of the book's tables that is 100 keys with about 533 rows
 * each (53,307 rows). The per-key counts spread as a uniform draw does
 * (standard deviation 21 on a mean of 533), so keys are drawn with Zipf
 * exponent 0. In raw lineitem 11.1% of the rows repeat an earlier row's
 * (supplier, ship date): the input with ties has that share.
 */
object FoldInputs {
  val Keys = 100
  val Zipf = 0.0
  val Rows = 53300
  val DupRows = 60000
  val DupShare = 0.111

  val schema: StructType = StructType(
    Seq(StructField("key", StringType), StructField("t", TimestampType)) ++
      Seq("z", "x", "y", "z2", "s0", "s1").map(StructField(_, DoubleType)))

  def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  def row(o: Obs): Row = Row(Gen.key(o.key), ts(o.t), o.z, o.x, o.y, o.z2, o.s0, o.s1)

  def generate(seed: Long): (Array[Obs], Array[Obs]) =
    (Gen.observations(seed, Keys, Rows, Zipf, 0.0), Gen.observations(seed + 1, Keys, DupRows, Zipf, DupShare))

  /** Writes both inputs as parquet under `dir` and reads them back. */
  def materialize(spark: SparkSession, u: Array[Obs], d: Array[Obs], dir: java.nio.file.Path): FoldInputs = {
    def write(obs: Array[Obs], name: String): DataFrame = {
      val path = dir.resolve(name).toString
      spark.createDataFrame(java.util.Arrays.asList(obs.map(row): _*), schema)
        .repartition(4).write.mode("overwrite").parquet(path)
      Families.prepare(spark.read.parquet(path))
    }
    FoldInputs(write(u, "unique"), write(d, "dup"), u.length, d.length)
  }

  /** Same seed, same digest; another seed, another digest. */
  def selfTest(): Seq[String] = {
    val a = Gen.digest(Gen.observations(7, 50, 500, 1.0, DupShare))
    val b = Gen.digest(Gen.observations(7, 50, 500, 1.0, DupShare))
    val c = Gen.digest(Gen.observations(8, 50, 500, 1.0, DupShare))
    Seq(if (a == b) None else Some("same seed gave different inputs"),
      if (a != c) None else Some("different seeds gave the same inputs")).flatten
  }
}

/** The fold families of [[Families.all]] with their generated inputs. */
object FoldOps {
  def input(in: FoldInputs, op: FoldOp): DataFrame = if (op.dupInput) in.dup else in.unique

  def rows(in: FoldInputs): Double = Families.all.map(op => if (op.dupInput) in.dRows else in.uRows).sum.toDouble

  /**
   * Checks every family's `transform` output against the encoder engine
   * on the same input, bit for bit, four at a time; `runs(op)` is how many
   * timed operations a wrong output fails.
   */
  def check(ctx: Ctx, in: FoldInputs, runs: FoldOp => Long): Unit = {
    val ops = Families.all
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val checks = ops.map { op =>
        pool.submit(new java.util.concurrent.Callable[(Digest, Digest)] {
          def call(): (Digest, Digest) = {
            val df = input(in, op)
            (Check.digest(op.run(df)), Check.digest(op.reference(df)))
          }
        })
      }
      ops.zip(checks).foreach { case (op, f) =>
        val (got, want) = f.get()
        if (got != want) ctx.report.fail(s"${op.name}: kernel output $got != encoder reference $want", runs(op))
        if (got.rows <= 0) ctx.report.fail(s"${op.name}: no output rows", runs(op))
      }
    } finally pool.shutdown()
  }
}
