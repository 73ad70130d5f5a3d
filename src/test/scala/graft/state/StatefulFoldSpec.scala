package graft.state

import java.sql.Timestamp
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.{LinearKalmanFilter, RecursiveLeastSquaresFilter, SparkTestSession}
import graft.linalg.{DMat, Dense}
import graft.mixture.MultivariateGaussianMixture
import graft.smoother.LinearKalmanSmoother

/**
 * The batch fold as a plan node, in the shared AQE-on session: the planner
 * owns its exchange and sort, and planning it touches no session conf.
 */
class StatefulFoldSpec extends AnyFunSuite with SparkTestSession with AdaptiveSparkPlanHelper {

  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

  private def input(): DataFrame = {
    val rnd = new scala.util.Random(5)
    val rows = for (k <- Seq("a", "b", "c", "d", "e", "f"); i <- 0 until 40) yield {
      val z = rnd.nextDouble() * 10 - 5
      (k, ts(i), Array(z), z + rnd.nextDouble(), Array(1.0, rnd.nextDouble() * 3),
        Array(rnd.nextDouble() * 4 - 2, rnd.nextDouble() * 4 - 2))
    }
    spark.createDataFrame(rows).toDF("key", "t", "meas", "y", "feat", "sample")
  }

  private def lkf(df: DataFrame) = new LinearKalmanFilter(1, 1)
    .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
    .setInitialStateCovariance(DMat.of(1, 1, 10.0))
    .setProcessNoise(DMat.of(1, 1, 1.0)).setMeasurementNoise(DMat.of(1, 1, 4.0))
    .setCalculateLoglikelihood()
    .transform(df)

  private def rls(df: DataFrame) = new RecursiveLeastSquaresFilter(2)
    .setStateKeyCol("key").setEventTimeCol("t").setLabelCol("y").setFeaturesCol("feat")
    .setForgettingFactor(0.97)
    .transform(df)

  private def gmm(df: DataFrame) = new MultivariateGaussianMixture(2, 2)
    .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("sample")
    .setStepSize(0.08).setMinibatchSize(4)
    .setInitialMeans(Array(Array(-1.0, -1.0), Array(1.0, 1.0)))
    .setInitialCovariances(Array(Dense.eye(2), Dense.eye(2)))
    .transform(df)

  private def rts(df: DataFrame) = {
    val sm = new LinearKalmanSmoother(1, 1)
    sm.setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0)).setMeasurementNoise(DMat.of(1, 1, 4.0))
    sm.smooth(df)
  }

  /** Rows sorted by (key, stateIndex), every double as its raw IEEE bits. */
  private def bits(df: DataFrame): Seq[Any] = {
    def raw(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case r: Row => r.toSeq.map(raw)
      case s: scala.collection.Seq[_] => s.map(raw)
      case x => x
    }
    df.orderBy(col("key"), col("stateIndex")).collect().toSeq.map(raw)
  }

  test("concurrent LKF, RLS, GMM and RTS folds leave the session conf untouched and match serial runs") {
    // perfbench's FoldOps.check also runs four transforms at once
    val df = input()
    val ops: Seq[DataFrame => DataFrame] = Seq(lkf, rls, gmm, rts)
    val serial = ops.map(op => bits(op(df)))
    val before = spark.conf.getAll
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      for (round <- 1 to 3) {
        val threaded = Await.result(Future.sequence(ops.map(op => Future(bits(op(df))))), 5.minutes)
        threaded.zip(serial).zipWithIndex.foreach { case ((got, want), i) =>
          assert(got == want, s"op $i differs from its serial run in round $round")
        }
      }
    } finally pool.shutdown()
    assert(spark.conf.getAll == before)
  }

  test("the fold runs at spark.sql.shuffle.partitions partitions with no coalesced shuffle read") {
    val out = lkf(input())
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan.toString)
    val folds = collect(plan) { case f: StatefulFoldExec => f }
    assert(folds.size == 1, plan.toString)
    assert(folds.head.numPartitions == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(folds.head.child.outputPartitioning.numPartitions == folds.head.numPartitions, plan.toString)
    assert(!plan.toString.contains("AQEShuffleRead"), plan.toString)
  }

  test("a fold's output self-joins, and pruning its output keeps every column the kernel reads") {
    val out = lkf(input())
    val a = out.select(col("key"), col("stateIndex"), col("stateMean")(0).as("m"))
    val b = out.select(col("key"), (col("stateIndex") + 1).as("stateIndex"), col("stateMean")(0).as("prev"))
    val joined = a.join(b, Seq("key", "stateIndex"))
    assert(joined.count() == out.count() - 6)
    val n = joined.filter(col("m").isNull || col("prev").isNull).count()
    assert(n == 0)
  }
}
