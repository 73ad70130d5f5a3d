package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.{LinearKalmanFilter, LeastMeanSquaresFilter, RecursiveLeastSquaresFilter}
import graft.linalg.DMat

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  import Tables.{regressionStream, regressionStreamSql, userStream, userStreamSql}

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_lkf_llt")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    filterQueries ++ PipelineQueries.queries ++ ModelQueries.queries ++
      CurationQueries.queries ++ TrainingQueries.queries ++ AssemblyQueries.queries ++
      EventQueries.queries ++ TokenizerQueries.queries ++ RetrievalQueries.queries ++
      UnicodeQueries.queries

  private def filterQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_outlier" -> ((s, dir) => {
      // Mahalanobis-gated outlier detection on the local-level filter: per
      // key, how many measurements breach the gate and the worst breach.
      // (The reference exposes mahalanobis for exactly this workflow.)
      val ev = userStream(s, dir).withColumn("meas", array(col("z")))
      val lkf = new LinearKalmanFilter(1, 1)
        .setStateKeyCol("user_id")
        .setEventTimeCol("ts")
        .setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setInitialStateMean(Array(0.0))
        .setInitialStateCovariance(DMat.of(1, 1, 10.0))
        .setProcessNoise(DMat.of(1, 1, 1.0))
        .setMeasurementNoise(DMat.of(1, 1, 4.0))
        .setCalculateMahalanobis()
      lkf.transform(ev)
        .groupBy(col("user_id"))
        .agg(
          max(col("stateIndex")).as("n_obs"),
          sum(when(col("mahalanobis") > 2.5, 1L).otherwise(0L)).as("n_outliers"),
          round(max(col("mahalanobis")), 5).as("max_maha"))
        .select(col("user_id").cast("long").as("key"),
          col("n_obs"), col("n_outliers"), col("max_maha"))
        .orderBy(col("key"))
    }),

    "q_lkf_llt" -> ((s, dir) => {
      // Local-level Kalman filter per user over event values; final state per key.
      val ev = userStream(s, dir).withColumn("meas", array(col("z")))
      val lkf = new LinearKalmanFilter(1, 1)
        .setStateKeyCol("user_id")
        .setEventTimeCol("ts")
        .setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setInitialStateMean(Array(0.0))
        .setInitialStateCovariance(DMat.of(1, 1, 10.0))
        .setProcessNoise(DMat.of(1, 1, 1.0))
        .setMeasurementNoise(DMat.of(1, 1, 4.0))
      lkf.transform(ev)
        .groupBy(col("user_id"))
        .agg(
          max_by(col("stateMean")(0), col("stateIndex")).as("m"),
          max_by(col("stateCovariance.values")(0), col("stateIndex")).as("p"),
          max(col("stateIndex")).as("n_obs"))
        .select(
          col("user_id").cast("long").as("key"),
          round(col("m"), 5).as("state_mean"),
          round(col("p"), 5).as("state_cov"),
          col("n_obs"))
        .orderBy(col("key"))
    }),

    "q_lkf_blr" -> ((s, dir) => {
      // LKF as recursive Bayesian linear regression: F=I, Q=0, H=[1,x] per row.
      val ms = regressionStream(s, dir)
        .withColumn("meas", array(col("y")))
        .withColumn("hmat",
          struct(lit(1).as("numRows"), lit(2).as("numCols"),
            array(lit(1.0), col("x")).as("values")))
      val lkf = new LinearKalmanFilter(2, 1)
        .setStateKeyCol("l_suppkey")
        .setEventTimeCol("l_shipdate")
        .setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setMeasurementModelCol("hmat")
        .setInitialStateMean(Array(0.0, 0.0))
        .setInitialStateCovariance(DMat.of(2, 2, 1e4, 0.0, 0.0, 1e4))
        .setProcessNoise(DMat.zeros(2, 2))
        .setMeasurementNoise(DMat.of(1, 1, 10.0))
      lkf.transform(ms)
        .groupBy(col("l_suppkey"))
        .agg(
          max_by(col("stateMean"), col("stateIndex")).as("th"),
          max_by(col("stateCovariance.values"), col("stateIndex")).as("pv"))
        .select(
          col("l_suppkey").cast("long").as("key"),
          round(col("th")(0), 6).as("th0"),
          round(col("th")(1), 6).as("th1"),
          round(col("pv")(0), 9).as("p00"),
          round(col("pv")(1), 9).as("p01"),
          round(col("pv")(3), 9).as("p11"))
        .orderBy(col("key"))
    }),

    "q_rls" -> ((s, dir) => {
      // Recursive least squares with forgetting factor per supplier.
      val ms = regressionStream(s, dir)
        .withColumn("features", array(lit(1.0), col("x")))
      val rls = new RecursiveLeastSquaresFilter(2)
        .setStateKeyCol("l_suppkey")
        .setEventTimeCol("l_shipdate")
        .setAssumeUniqueEventTimes()
        .setLabelCol("y")
        .setFeaturesCol("features")
        .setForgettingFactor(0.98)
        .setRegularizationMatrixFactor(1e5)
      rls.transform(ms)
        .groupBy(col("l_suppkey"))
        .agg(
          max_by(col("stateMean"), col("stateIndex")).as("th"),
          max_by(col("stateCovariance.values"), col("stateIndex")).as("pv"))
        .select(
          col("l_suppkey").cast("long").as("key"),
          round(col("th")(0), 6).as("th0"),
          round(col("th")(1), 6).as("th1"),
          round(col("pv")(0), 9).as("p00"),
          round(col("pv")(1), 9).as("p01"),
          round(col("pv")(3), 9).as("p11"))
        .orderBy(col("key"))
    }),

    "q_lms" -> ((s, dir) => {
      // Normalized LMS per supplier on the same regression stream.
      val ms = regressionStream(s, dir)
        .withColumn("features", array(lit(1.0), col("x")))
      val lms = new LeastMeanSquaresFilter(2)
        .setStateKeyCol("l_suppkey")
        .setEventTimeCol("l_shipdate")
        .setAssumeUniqueEventTimes()
        .setLabelCol("y")
        .setFeaturesCol("features")
        .setLearningRate(0.5)
        .setRegularization(1.0)
      lms.transform(ms)
        .groupBy(col("l_suppkey"))
        .agg(max_by(col("stateMean"), col("stateIndex")).as("th"))
        .select(
          col("l_suppkey").cast("long").as("key"),
          round(col("th")(0), 6).as("th0"),
          round(col("th")(1), 6).as("th1"))
        .orderBy(col("key"))
    })
  )

  // ------------------------------------------------------------- oracle SQL
  //
  // Sequential filters are verified by replaying the EXACT recursion
  // arithmetic (same operation order as graft.linalg.Dense) in DuckDB
  // recursive CTEs — validated to match bit-for-bit, then rounded.

  private val lltOracle: String = {
    val (q, r, m0, p0) = (1.0, 4.0, 0.0, 10.0)
    def step(m: String, p: String, z: String): (String, String) = {
      val pp = s"($p+$q)"
      val k = s"($pp*(1.0/($pp+$r)))"
      (s"($m + $k*($z - $m))", s"(((1.0-$k)*$pp)*(1.0-$k) + ($k*$r)*$k)")
    }
    val (bm, bp) = step(s"$m0", s"$p0", "z")
    val (rm, rp) = step("f.m", "f.p", "s.z")
    s"""WITH RECURSIVE meas AS (
       |$userStreamSql
       |),
       |filt AS (
       |  SELECT user_id, rn, $bm AS m, $bp AS p FROM meas WHERE rn = 1
       |  UNION ALL
       |  SELECT s.user_id, s.rn, $rm AS m, $rp AS p
       |  FROM filt f JOIN meas s ON s.user_id = f.user_id AND s.rn = f.rn + 1
       |)
       |SELECT user_id AS key, ROUND(m, 5) AS state_mean, ROUND(p, 5) AS state_cov,
       |       CAST(rn AS BIGINT) AS n_obs
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rk FROM filt)
       |WHERE rk = 1 ORDER BY key""".stripMargin
  }

  /** LLT recursion replay carrying per-row mahalanobis = sqrt(t*t),
    * t = resid / sqrt(S) — the exact forwardSolve/dot op order of
    * Distributions.mahalanobis in the 1-D case. */
  private val outlierOracle: String = {
    val (q, r, m0, p0) = (1.0, 4.0, 0.0, 10.0)
    def step(m: String, p: String, z: String): (String, String, String) = {
      val pp = s"($p+$q)"
      val s = s"($pp+$r)"
      val k = s"($pp*(1.0/$s))"
      (s"($m + $k*($z - $m))",
        s"(((1.0-$k)*$pp)*(1.0-$k) + ($k*$r)*$k)",
        s"sqrt((($z - $m)/sqrt($s)) * (($z - $m)/sqrt($s)))")
    }
    val (bm, bp, bmaha) = step(s"$m0", s"$p0", "z")
    val (rm, rp, rmaha) = step("f.m", "f.p", "s.z")
    s"""WITH RECURSIVE meas AS (
       |$userStreamSql
       |),
       |filt AS (
       |  SELECT user_id, rn, $bm AS m, $bp AS p, $bmaha AS maha FROM meas WHERE rn = 1
       |  UNION ALL
       |  SELECT s.user_id, s.rn, $rm AS m, $rp AS p, $rmaha AS maha
       |  FROM filt f JOIN meas s ON s.user_id = f.user_id AND s.rn = f.rn + 1
       |)
       |SELECT user_id AS key,
       |  CAST(max(rn) AS BIGINT) AS n_obs,
       |  CAST(sum(CASE WHEN maha > 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  ROUND(max(maha), 5) AS max_maha
       |FROM filt GROUP BY user_id ORDER BY key""".stripMargin
  }

  /** RLS recursion replay: state (th0,th1,p00,p01,p11), forgetting 0.98. */
  private val rlsOracle: String = {
    val lam = "0.98"
    def step(src: String): String =
      s"""  SELECT key, rn,
         |    th0 + resid*((1.0/denom)*px0) AS th0,
         |    th1 + resid*((1.0/denom)*px1) AS th1,
         |    (1.0/$lam)*(p00 - ((1.0/denom)*px0)*xtp0) AS p00,
         |    (1.0/$lam)*(p01 - ((1.0/denom)*px0)*xtp1) AS p01,
         |    (1.0/$lam)*(p11 - ((1.0/denom)*px1)*xtp1) AS p11
         |  FROM (
         |    SELECT *, $lam + ((1.0*px0) + (x*px1)) AS denom,
         |           y - ((1.0*th0) + (x*th1)) AS resid
         |    FROM (
         |      SELECT *, (p00*1.0) + (p01*x) AS px0, (p01*1.0) + (p11*x) AS px1,
         |             (p00*1.0) + (p01*x) AS xtp0, (p01*1.0) + (p11*x) AS xtp1
         |      FROM $src
         |    )
         |  )""".stripMargin
    s"""WITH RECURSIVE meas AS (
       |$regressionStreamSql
       |),
       |filt AS (
       |${step("(SELECT key, rn, x, y, 0.0 AS th0, 0.0 AS th1, 100000.0 AS p00, 0.0 AS p01, 100000.0 AS p11 FROM meas WHERE rn=1)")}
       |  UNION ALL
       |${step("(SELECT s.key, s.rn, s.x, s.y, f.th0, f.th1, f.p00, f.p01, f.p11 FROM filt f JOIN meas s ON s.key=f.key AND s.rn=f.rn+1)")}
       |)
       |SELECT key, ROUND(th0,6) AS th0, ROUND(th1,6) AS th1,
       |       ROUND(p00,9) AS p00, ROUND(p01,9) AS p01, ROUND(p11,9) AS p11
       |FROM (SELECT *, row_number() OVER (PARTITION BY key ORDER BY rn DESC) rk FROM filt)
       |WHERE rk=1 ORDER BY key""".stripMargin
  }

  /**
   * LKF-as-Bayesian-linear-regression replay. Predict is exact identity
   * (F=I, Q=0); the update is the Joseph form unrolled for state 2, meas 1,
   * in the same operation order as LinearKalmanCompute.estimate.
   */
  private val blrOracle: String = {
    val r = "10.0"
    def step(src: String): String =
      s"""  SELECT key, rn,
         |    th0 + (k0*resid) AS th0, th1 + (k1*resid) AS th1,
         |    ((((1.0-k0)*p00) + ((-(k0*x))*p01))*(1.0-k0) + (((1.0-k0)*p01) + ((-(k0*x))*p11))*(-(k0*x))) + ((k0*$r)*k0) AS c00,
         |    0.5*(
         |      (((((1.0-k0)*p00) + ((-(k0*x))*p01))*(-(k1*1.0)) + ((((1.0-k0)*p01) + ((-(k0*x))*p11))*(1.0-(k1*x)))) + ((k0*$r)*k1))
         |      +
         |      ((((-(k1*1.0))*p00 + (1.0-(k1*x))*p01)*(1.0-k0) + ((-(k1*1.0))*p01 + (1.0-(k1*x))*p11)*(-(k0*x))) + ((k1*$r)*k0))
         |    ) AS c01,
         |    ((((-(k1*1.0))*p00 + (1.0-(k1*x))*p01)*(-(k1*1.0)) + ((-(k1*1.0))*p01 + (1.0-(k1*x))*p11)*(1.0-(k1*x))) + ((k1*$r)*k1)) AS c11
         |  FROM (
         |    SELECT *, (pht0*sinv) AS k0, (pht1*sinv) AS k1
         |    FROM (
         |      SELECT *, (1.0/(((1.0*pht0) + (x*pht1)) + $r)) AS sinv,
         |             y - ((1.0*th0) + (x*th1)) AS resid
         |      FROM (
         |        SELECT *, (p00*1.0) + (p01*x) AS pht0, (p01*1.0) + (p11*x) AS pht1
         |        FROM $src
         |      )
         |    )
         |  )""".stripMargin
    s"""WITH RECURSIVE meas AS (
       |$regressionStreamSql
       |),
       |filt AS (
       |  SELECT key, rn, th0, th1, c00 AS p00, c01 AS p01, c11 AS p11 FROM (
       |${step("(SELECT key, rn, x, y, 0.0 AS th0, 0.0 AS th1, 10000.0 AS p00, 0.0 AS p01, 10000.0 AS p11 FROM meas WHERE rn=1)")}
       |  )
       |  UNION ALL
       |  SELECT key, rn, th0, th1, c00 AS p00, c01 AS p01, c11 AS p11 FROM (
       |${step("(SELECT s.key, s.rn, s.x, s.y, f.th0, f.th1, f.p00, f.p01, f.p11 FROM filt f JOIN meas s ON s.key=f.key AND s.rn=f.rn+1)")}
       |  )
       |)
       |SELECT key, ROUND(th0,6) AS th0, ROUND(th1,6) AS th1,
       |       ROUND(p00,9) AS p00, ROUND(p01,9) AS p01, ROUND(p11,9) AS p11
       |FROM (SELECT *, row_number() OVER (PARTITION BY key ORDER BY rn DESC) rk FROM filt)
       |WHERE rk=1 ORDER BY key""".stripMargin
  }

  private val lmsOracle: String = {
    val (mu, eps) = ("0.5", "1.0")
    def step(src: String): String =
      s"""  SELECT key, rn,
         |    th0 + (g*resid)*1.0 AS th0, th1 + (g*resid)*x AS th1
         |  FROM (
         |    SELECT *, $mu/($eps + ((1.0*1.0) + (x*x))) AS g,
         |           y - ((1.0*th0) + (x*th1)) AS resid
         |    FROM $src
         |  )""".stripMargin
    s"""WITH RECURSIVE meas AS (
       |$regressionStreamSql
       |),
       |filt AS (
       |${step("(SELECT key, rn, x, y, 0.0 AS th0, 0.0 AS th1 FROM meas WHERE rn=1)")}
       |  UNION ALL
       |${step("(SELECT s.key, s.rn, s.x, s.y, f.th0, f.th1 FROM filt f JOIN meas s ON s.key=f.key AND s.rn=f.rn+1)")}
       |)
       |SELECT key, ROUND(th0,6) AS th0, ROUND(th1,6) AS th1
       |FROM (SELECT *, row_number() OVER (PARTITION BY key ORDER BY rn DESC) rk FROM filt)
       |WHERE rk=1 ORDER BY key""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_lkf_llt" -> lltOracle,
    "q_outlier" -> outlierOracle,
    "q_lkf_blr" -> blrOracle,
    "q_rls" -> rlsOracle,
    "q_lms" -> lmsOracle
  ) ++ PipelineQueries.oracleSql ++ ModelQueries.oracleSql ++
    CurationQueries.oracleSql ++ TrainingQueries.oracleSql ++ AssemblyQueries.oracleSql ++
    EventQueries.oracleSql ++ TokenizerQueries.oracleSql ++ RetrievalQueries.oracleSql ++
    UnicodeQueries.oracleSql
}
