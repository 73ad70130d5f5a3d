#!/usr/bin/env python3
"""Smoke-test the graft.ml pyspark.ml-native estimators: Pipeline
composition (fit + transform), param get/set introspection, param-map
extraction, and save/load persistence — standalone AND inside a Pipeline —
the reference's python contract (python/artan/tests/test_filters.py intent).

The Python stages declare their Params from the JVM stages, so this also
pins that surface: every set*/get* binding of the hand-written stages the
JVM-declared ones replaced (tools/fixtures/ml_surface.json) still resolves,
each stage's Params equal its JVM twin's, unset getters read the Scala
defaults, setter side effects come from Scala, and a PipelineModel saved by
those hand-written stages (tools/fixtures/ml_pipeline_model, with its
transform rows in ml_pipeline_rows.json) loads and reproduces its rows.

Usage: python3 tools/pyspark_ml_smoke.py
"""
import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
CLASSES = os.path.join(HERE, "..", "target", "scala-2.13", "classes")
if not glob.glob(os.path.join(CLASSES, "graft", "ml", "LinearKalmanFilter*.class")):
    sys.exit("compile first: sbt compile")

try:
    import graft.ml  # noqa: F401 — probe for an installed package
except ImportError:
    sys.stderr.write(
        "[ml-smoke] WARNING: graft python package not installed; using the "
        "in-repo python/ path\n")
    sys.path.insert(0, os.path.join(HERE, "..", "python"))

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.linalg import Matrices, Vectors
from pyspark.sql import SparkSession, functions as F

from graft.ml import (BernoulliMixture, CubatureKalmanFilter,
                      ExtendedKalmanFilter, LeastMeanSquaresFilter,
                      LinearKalmanFilter, LinearKalmanSmoother,
                      MultivariateGaussianMixture, PoissonMixture,
                      RecursiveLeastSquaresFilter, UnscentedKalmanFilter)

spark = (SparkSession.builder.master("local[4]")
         .config("spark.driver.extraClassPath", os.path.abspath(CLASSES))
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .appName("graft-ml-smoke").getOrCreate())
spark.sparkContext.setLogLevel("WARN")

workdir = tempfile.mkdtemp(prefix="graft_ml_smoke_")
FIXTURES = os.path.join(HERE, "fixtures")
STAGES = {cls.__name__: cls for cls in (
    LinearKalmanFilter, LinearKalmanSmoother, ExtendedKalmanFilter,
    UnscentedKalmanFilter, CubatureKalmanFilter, RecursiveLeastSquaresFilter,
    LeastMeanSquaresFilter, MultivariateGaussianMixture, PoissonMixture,
    BernoulliMixture)}

# ------------------------------------------------- surface pin

instances = {name: cls() for name, cls in STAGES.items()}
with open(os.path.join(FIXTURES, "ml_surface.json")) as f:
    surface = json.load(f)
assert len(surface) == 367, len(surface)
missing = [b for b in surface
           if not callable(getattr(instances[b.split(".")[0]], b.split(".")[1], None))]
assert not missing, missing
print("PASS surface: all", len(surface), "set*/get* bindings resolve")

# ------------------------------------------------- param parity with the JVM

FUNCTION_PARAMS = {"processFunction", "measurementFunction",
                   "processStateJacobian", "processNoiseJacobian",
                   "measurementStateJacobian", "measurementNoiseJacobian"}
PARAM_COUNTS = {"LinearKalmanFilter": 32, "LinearKalmanSmoother": 33,
                "ExtendedKalmanFilter": 33, "UnscentedKalmanFilter": 42,
                "CubatureKalmanFilter": 33, "RecursiveLeastSquaresFilter": 14,
                "LeastMeanSquaresFilter": 12, "MultivariateGaussianMixture": 19,
                "PoissonMixture": 17, "BernoulliMixture": 17}
for name, stage in instances.items():
    py_names = sorted(p.name for p in stage.params)
    jvm_names = sorted(set(p.name() for p in stage._java_obj.params()) - FUNCTION_PARAMS)
    assert py_names == jvm_names, (name, set(py_names) ^ set(jvm_names))
    assert len(py_names) == PARAM_COUNTS[name], (name, len(py_names))
print("PASS parity: each stage's Params are its JVM twin's minus the function-valued ones")

# ------------------------------------------------- Scala defaults reach Python

assert LinearKalmanFilter(2, 1).getFadingFactor() == 1.0
ukf_defaults = UnscentedKalmanFilter(2, 1)
assert ukf_defaults.getSigmaPoints() == "merwe" and ukf_defaults.getMerweAlpha() == 0.3
assert MultivariateGaussianMixture(2, 1).getBatchTrainMaxIter() == 30
for name, stage in instances.items():
    for p in stage.params:
        jp = stage._java_obj.getParam(p.name)
        if stage._java_obj.hasDefault(jp):
            assert stage.getOrDefault(p) == stage._java_obj.getDefault(jp).get(), (name, p.name)
print("PASS defaults: unset getters read the Scala defaults")

# ------------------------------------------------- setter side effects (Scala's)

win = LinearKalmanFilter(2, 1).setSlidingLikelihoodWindow(3)
assert win.getSlidingLikelihoodWindow() == 3
assert win.getCalculateSlidingLikelihood() is True
mmae = LinearKalmanFilter(2, 1).setEnableMultipleModelAdaptiveEstimation()
assert mmae.getMultipleModelAdaptiveEstimation() is True
assert mmae.getCalculateSlidingLikelihood() is True
raukf = UnscentedKalmanFilter(2, 1).setEnableAdaptiveProcessNoise()
assert raukf.getAdaptiveProcessNoise() is True
coerced = LinearKalmanFilter(2, 1).setFadingFactor(1).setMultiStepPredict(2.0)
assert coerced.getFadingFactor() == 1.0 and coerced.getMultiStepPredict() == 2
weights = PoissonMixture(2).setInitialWeights([1, 3])
assert weights.getInitialWeights() == [1.0, 3.0]
print("PASS setters: side effects and argument conversion come from the JVM setter")

# ------------------------------------------------- load compatibility

with open(os.path.join(FIXTURES, "ml_pipeline_rows.json")) as f:
    saved = json.load(f)
saved_df = (spark.createDataFrame(saved["input"], "key string, idx int, trend double")
            .select("key", F.timestamp_seconds(F.lit(1700000000) + F.col("idx") * 60)
                    .alias("ts"), "trend"))
saved_model = PipelineModel.load(os.path.join(FIXTURES, "ml_pipeline_model"))
assert [type(st).__name__ for st in saved_model.stages] == \
    ["VectorAssembler", "LinearKalmanFilter", "MultivariateGaussianMixture"]
assert saved_model.stages[2].getInitialWeights() == [0.4, 0.6]
reloaded = [json.loads(r) for r in saved_model.transform(saved_df)
            .withColumn("ts", F.col("ts").cast("long"))
            .orderBy("key", "stateIndex").toJSON().collect()]
assert reloaded == saved["output"], (reloaded[:2], saved["output"][:2])
print("PASS load: the saved PipelineModel loads and reproduces its", len(reloaded), "rows")

# ------------------------------------------------- params get/set round-trip

lkf = (LinearKalmanFilter(2, 1)
       .setStateKeyCol("key")
       .setEventTimeCol("ts")
       .setMeasurementCol("measurement")
       .setInitialStateMean(Vectors.dense([0.0, 0.0]))
       .setInitialStateCovariance(Matrices.dense(2, 2, [10.0, 0.0, 0.0, 10.0]))
       .setProcessModel(Matrices.dense(2, 2, [1.0, 0.0, 1.0, 1.0]))
       .setProcessNoise(Matrices.dense(2, 2, [0.01, 0.0, 0.0, 0.01]))
       .setMeasurementModel(Matrices.dense(1, 2, [1.0, 0.0]))
       .setMeasurementNoise(Matrices.dense(1, 1, [1.0]))
       .setFadingFactor(1.0)
       .setCalculateMahalanobis())

assert lkf.getStateSize() == 2 and lkf.getMeasurementSize() == 1
assert lkf.getStateKeyCol() == "key"
assert lkf.getFadingFactor() == 1.0
assert lkf.getProcessModel().toArray()[0][1] == 1.0  # column-major dense
pmap = lkf.extractParamMap()
assert any(p.name == "measurementCol" and v == "measurement"
           for p, v in pmap.items()), "extractParamMap must carry set params"
print("PASS params: get/set + extractParamMap")

# ------------------------------------------------- Pipeline fit + transform

# local linear trend per key: z = 0.5 * i + key, two keys
df = spark.createDataFrame(
    [(str(k), i, 0.5 * i + k) for k in range(2) for i in range(40)],
    "key string, idx int, trend double"
).select("key", F.timestamp_seconds(F.lit(1700000000) + F.col("idx") * 60)
         .alias("ts"), "trend")

assembler = VectorAssembler(inputCols=["trend"], outputCol="measurement")
pipeline = Pipeline(stages=[assembler, lkf])
model = pipeline.fit(df)
out = model.transform(df)
rows = (out.groupBy("key")
        .agg(F.max("stateIndex").alias("n"),
             F.max_by(F.col("stateMean")[0], F.col("stateIndex")).alias("level"),
             F.max_by(F.col("stateMean")[1], F.col("stateIndex")).alias("slope"))
        .orderBy("key").collect())
assert len(rows) == 2, rows
for r in rows:
    assert r.n == 40, r
    expect_level = 0.5 * 39 + int(r.key)
    assert abs(r.level - expect_level) < 1.5, (r, expect_level)
    assert abs(r.slope - 0.5) < 0.3, r
print("PASS pipeline: fit/transform:",
      [(r.key, r.n, round(r.level, 2), round(r.slope, 3)) for r in rows])

# ------------------------------------------------- standalone save/load

p1 = os.path.join(workdir, "lkf")
lkf.write().overwrite().save(p1)
lkf2 = LinearKalmanFilter.load(p1)
assert lkf2.getStateSize() == 2
assert lkf2.getStateKeyCol() == "key"
assert lkf2.getProcessModel().toArray()[0][1] == 1.0
assert lkf2.getOrDefault(lkf2.calculateMahalanobis) is True
out2 = model.stages[0].transform(df)
r1 = lkf.transform(out2).select("stateMean").collect()
r2 = lkf2.transform(out2).select("stateMean").collect()
assert [list(r.stateMean) for r in r1] == [list(r.stateMean) for r in r2]
print("PASS persistence: standalone save/load reproduces the transform")

# ------------------------------------------------- Pipeline save/load

p2 = os.path.join(workdir, "pipe_model")
model.write().overwrite().save(p2)
model2 = PipelineModel.load(p2)
lkf_loaded = model2.stages[1]
assert type(lkf_loaded).__name__ == "LinearKalmanFilter"
assert lkf_loaded.getStateKeyCol() == "key"
out3 = model2.transform(df).groupBy("key").count().orderBy("key").collect()
assert [r["count"] for r in out3] == [40, 40]
print("PASS persistence: PipelineModel save/load round-trips the graft stage")

# ------------------------------------------------- smoother in a Pipeline

rts = (LinearKalmanSmoother(2, 1)
       .setStateKeyCol("key").setEventTimeCol("ts")
       .setMeasurementCol("measurement")
       .setInitialStateCovariance(Matrices.dense(2, 2, [10.0, 0.0, 0.0, 10.0]))
       .setProcessModel(Matrices.dense(2, 2, [1.0, 0.0, 1.0, 1.0]))
       .setProcessNoise(Matrices.dense(2, 2, [0.01, 0.0, 0.0, 0.01]))
       .setMeasurementModel(Matrices.dense(1, 2, [1.0, 0.0]))
       .setMeasurementNoise(Matrices.dense(1, 1, [1.0])))
sm = Pipeline(stages=[assembler, rts]).fit(df).transform(df)
assert sm.count() == 80
print("PASS smoother: RTS pipeline runs, rows =", sm.count())

# ------------------------------------------------- RLS + LMS

reg_df = spark.createDataFrame(
    [("k", i, [1.0, float(i)], 1.0 + 2.0 * i) for i in range(1, 41)],
    "key string, idx int, features array<double>, label double"
).select("key", F.timestamp_seconds(F.lit(1700000000) + F.col("idx") * 60)
         .alias("ts"), "features", "label")

rls = (RecursiveLeastSquaresFilter(2)
       .setStateKeyCol("key").setEventTimeCol("ts")
       .setLabelCol("label").setFeaturesCol("features")
       .setForgettingFactor(1.0))
p3 = os.path.join(workdir, "rls")
rls.write().overwrite().save(p3)
rls2 = RecursiveLeastSquaresFilter.load(p3)
assert rls2.getForgettingFactor() == 1.0
est = (rls2.transform(reg_df)
       .agg(F.max_by("stateMean", "stateIndex").alias("coef"))
       .collect()[0].coef)
assert abs(est[0] - 1.0) < 0.1 and abs(est[1] - 2.0) < 0.01, est
print("PASS RLS: save/load + coefficient recovery:", [round(c, 3) for c in est])

lms = (LeastMeanSquaresFilter(2)
       .setStateKeyCol("key").setEventTimeCol("ts")
       .setLabelCol("label").setFeaturesCol("features")
       .setLearningRate(0.8))
lms_out = lms.transform(reg_df)
assert lms_out.count() == 40
print("PASS LMS: transform runs, rows =", lms_out.count())

# ------------------------------------------------- mixtures

import random
random.seed(7)
samples = [("k", i, [random.gauss(-4.0, 1.0)] if i % 2 == 0
            else [random.gauss(4.0, 1.0)]) for i in range(200)]
mix_df = spark.createDataFrame(samples, "key string, idx int, sample array<double>") \
    .select("key", F.timestamp_seconds(F.lit(1700000000) + F.col("idx"))
            .alias("ts"), "sample")

gmm = (MultivariateGaussianMixture(2, 1)
       .setStateKeyCol("key").setEventTimeCol("ts").setSampleCol("sample")
       .setInitialMeans([[-1.0], [1.0]])
       .setInitialCovariances([[4.0], [4.0]])
       .setStepSize(0.1).setMinibatchSize(5))
p4 = os.path.join(workdir, "gmm")
gmm.write().overwrite().save(p4)
gmm2 = MultivariateGaussianMixture.load(p4)
assert gmm2.getMixtureCount() == 2 and gmm2.getSampleSize() == 1
last = (gmm2.transform(mix_df)
        .agg(F.max_by("params", "stateIndex").alias("p")).collect()[0].p)
means = sorted(p[0] for p in [last[0], last[1]])
assert means[0] < -2.0 and means[1] > 2.0, means
print("PASS GMM: save/load + component separation:", [round(m, 2) for m in means])

pois = PoissonMixture(2).setStateKeyCol("key").setSampleCol("sample")
assert pois.getMixtureCount() == 2
bern = BernoulliMixture(2).setStateKeyCol("key").setSampleCol("sample")
assert bern.getMixtureCount() == 2
print("PASS mixtures: Poisson/Bernoulli param plumbing")

# ------------------------------------------------- nonlinear filters (named
# measurement families — the overtake: the reference's python package has no
# EKF/UKF because its lambda API cannot cross py4j; a named family can)

# the reference's UKFRateSourceGLMLog model: y = exp(a*x + b) + w
a_true, b_true = 0.2, 0.7
random.seed(11)
glm_rows = []
for i in range(120):
    x = 0.1 * i
    y = pow(2.718281828459045, a_true * x + b_true) + random.gauss(0.0, 1.0)
    glm_rows.append(("k", i, [y], x))
glm_df = (spark.createDataFrame(
    glm_rows, "key string, idx int, meas array<double>, x double")
    .select("key",
            F.timestamp_seconds(F.lit(1700000000) + F.col("idx") * 60).alias("ts"),
            "meas",
            F.struct(F.lit(1).alias("numRows"), F.lit(2).alias("numCols"),
                     F.array(F.col("x"), F.lit(1.0)).alias("values")).alias("hmat")))

ukf = (UnscentedKalmanFilter(2, 1)
       .setStateKeyCol("key").setEventTimeCol("ts")
       .setMeasurementCol("meas").setMeasurementModelCol("hmat")
       .setMeasurementFunctionFamily("exp")
       .setSigmaPoints("merwe")
       .setMerweAlpha(0.9).setMerweBeta(2.0).setMerweKappa(1.0)
       .setInitialStateMean(Vectors.dense([0.0, 0.0]))
       .setInitialStateCovariance(Matrices.dense(2, 2, [10.0, 0.0, 0.0, 10.0]))
       .setProcessNoise(Matrices.dense(2, 2, [0.0, 0.0, 0.0, 0.0]))
       .setMeasurementNoise(Matrices.dense(1, 1, [10.0])))
assert ukf.getMeasurementFunctionFamily() == "exp"
coef = (ukf.transform(glm_df)
        .agg(F.max_by("stateMean", "stateIndex").alias("st")).collect()[0].st)
assert abs(coef[0] - a_true) < 0.05 and abs(coef[1] - b_true) < 0.35, coef
print("PASS UKF GLM-log from python: a,b =", [round(c, 3) for c in coef],
      "(true 0.2, 0.7; family='exp' — MLPipelineSpec pins family == Scala lambda twin)")

p5 = os.path.join(workdir, "ukf")
ukf.write().overwrite().save(p5)
ukf2 = UnscentedKalmanFilter.load(p5)
assert ukf2.getMeasurementFunctionFamily() == "exp"
coef2 = (ukf2.transform(glm_df)
         .agg(F.max_by("stateMean", "stateIndex").alias("st")).collect()[0].st)
assert list(coef2) == list(coef), (coef2, coef)
print("PASS UKF persistence: the named family JSON-persists and reproduces")

ekf = (ExtendedKalmanFilter(2, 1)
       .setStateKeyCol("key").setEventTimeCol("ts")
       .setMeasurementCol("meas").setMeasurementModelCol("hmat")
       .setMeasurementFunctionFamily("exp")
       .setInitialStateMean(Vectors.dense([0.0, 0.0]))
       .setInitialStateCovariance(Matrices.dense(2, 2, [10.0, 0.0, 0.0, 10.0]))
       .setProcessNoise(Matrices.dense(2, 2, [0.0, 0.0, 0.0, 0.0]))
       .setMeasurementNoise(Matrices.dense(1, 1, [10.0])))
ecoef = (ekf.transform(glm_df)
         .agg(F.max_by("stateMean", "stateIndex").alias("st")).collect()[0].st)
assert abs(ecoef[0] - a_true) < 0.05 and abs(ecoef[1] - b_true) < 0.35, ecoef
print("PASS EKF GLM-log from python: a,b =", [round(c, 3) for c in ecoef],
      "(analytic jacobian derived from the family Scala-side)")

ckf = (CubatureKalmanFilter(2, 1)
       .setStateKeyCol("key").setEventTimeCol("ts")
       .setMeasurementCol("meas").setMeasurementModelCol("hmat")
       .setMeasurementFunctionFamily("exp")
       .setInitialStateMean(Vectors.dense([0.0, 0.0]))
       .setInitialStateCovariance(Matrices.dense(2, 2, [10.0, 0.0, 0.0, 10.0]))
       .setProcessNoise(Matrices.dense(2, 2, [0.0, 0.0, 0.0, 0.0]))
       .setMeasurementNoise(Matrices.dense(1, 1, [10.0])))
ccoef = (ckf.transform(glm_df)
         .agg(F.max_by("stateMean", "stateIndex").alias("st")).collect()[0].st)
assert abs(ccoef[0] - a_true) < 0.05 and abs(ccoef[1] - b_true) < 0.35, ccoef
print("PASS CKF GLM-log from python: a,b =", [round(c, 3) for c in ccoef])

shutil.rmtree(workdir, ignore_errors=True)
print("ALL ML SMOKE TESTS PASSED")
