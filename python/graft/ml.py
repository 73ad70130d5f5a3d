"""pyspark.ml-native estimators for the graft Scala library.

Unlike the forwarding proxies in ``graft/__init__.py`` (plain chained-setter
wrappers), these classes are real :class:`pyspark.ml.param.Params` stages
built on :class:`pyspark.ml.wrapper.JavaTransformer`: they compose in
``pyspark.ml.Pipeline``, support ``getOrDefault``/``extractParamMap``
introspection, and JSON-persist through ``save()``/``load()`` — the same
contract the reference library's python package exposes
(reference: python/artan/filter/linear_kalman_filter.py:26,
python/artan/state/stateful_transformer.py:131).

Each stage declares its Params from its JVM twin ``graft.ml.<ClassName>``
(``graft/ml/KalmanML.scala``, ``RegressionML.scala``, ``MixtureML.scala``)
when it is built: name, doc and default come from the JVM stage, and the
type converter from the JVM Param class. ``set<Param>(...)`` calls the JVM
setter of that name and copies the JVM param map back, so a setter's side
effects (a sliding window switching on ``calculateSlidingLikelihood``, the
``setEnable*`` and no-argument boolean setters) are defined once, in Scala;
``get<Param>()`` is ``getOrDefault``. The identical ``graft.ml.<ClassName>``
naming means a ``Pipeline`` saved from Python (or Scala) loads back on
either side without any translation table. Params whose JVM setter takes a
function (the EKF/UKF/CKF lambdas) cannot cross py4j and stay out of Python.

The nonlinear filters (EKF/UKF/CKF) ARE wrapped — beyond the reference,
whose python package stops at the linear family because its measurement
functions are Scala lambdas and lambdas cannot cross py4j. Here the common
nonlinear measurement models are NAMED families (``measurementFunctionFamily
= "square" | "exp"``): ``h(x) = g(H·x)`` elementwise, with the per-row data
riding in the measurement model matrix H — the exact structure of the
reference's EKF/UKFRateSourceGLMLog examples ("exp" is their GLM log link).
A plain string crosses py4j and JSON-persists, so the EKF's analytic
jacobian comes with the family for free (graft/ml/KalmanML.scala
MeasurementFamilies).

Usage::

    from graft.ml import LinearKalmanFilter
    from pyspark.ml import Pipeline
    from pyspark.ml.linalg import Matrices, Vectors

    lkf = (LinearKalmanFilter(2, 1)
           .setStateKeyCol("key").setMeasurementCol("measurement")
           .setProcessModel(Matrices.dense(2, 2, [1.0, 0.0, 1.0, 1.0])))
    model = Pipeline(stages=[assembler, lkf]).fit(df)
    out = model.transform(df)
"""

from pyspark import SparkContext
from pyspark.ml.param import Param, TypeConverters
from pyspark.ml.util import JavaMLReader, JavaMLWritable, MLReadable
from pyspark.ml.wrapper import JavaTransformer

from graft import _call_jvm, _signatures

# The Python type converter of each JVM Param class the graft.ml stages use.
_CONVERTERS = {
    "org.apache.spark.ml.param." + cls: conv for cls, conv in [
        ("IntParam", TypeConverters.toInt),
        ("DoubleParam", TypeConverters.toFloat),
        ("BooleanParam", TypeConverters.toBoolean),
        ("DoubleArrayParam", TypeConverters.toListFloat),
        ("DoubleArrayArrayParam", TypeConverters.toListListFloat),
        ("Param", TypeConverters.identity),
    ]
}

_DECLARATIONS = {}  # JVM class name -> ([(name, doc, converter)], {binding: param name})


def _declaration(java_obj):
    """The Python-visible Params of a JVM stage and its `set*`/`get*`
    bindings, read once per class: every JVM param but those whose setter
    takes a function, bound to `set<Param>` / `setEnable<Param>` where the
    JVM class has that method, and to `get<Param>`."""
    cls = java_obj.getClass().getName()
    if cls not in _DECLARATIONS:
        methods = _signatures(java_obj)
        params, bindings = [], {}
        for jp in java_obj.params():
            name = jp.name()
            cap = name[0].upper() + name[1:]
            if any(t[:1] and t[0].startswith("scala.Function")
                   for t in methods.get("set" + cap, [])):
                continue
            params.append((name, jp.doc(), _CONVERTERS[jp.getClass().getName()]))
            bindings["get" + cap] = name
            for setter in ("set" + cap, "setEnable" + cap):
                if setter in methods:
                    bindings[setter] = name
        _DECLARATIONS[cls] = (params, bindings)
    return _DECLARATIONS[cls]


class _GraftMLReader(JavaMLReader):
    """JavaMLReader resolving java classes under graft.ml instead of the
    default pyspark -> org.apache.spark rewrite."""

    @classmethod
    def _java_loader_class(cls, clazz):
        return "graft.ml." + clazz.__name__


class GraftMLReadable(MLReadable):
    """MLReadable for graft.ml-backed python stages."""

    @classmethod
    def read(cls):
        return _GraftMLReader(cls)


class _GraftTransformer(JavaTransformer, GraftMLReadable, JavaMLWritable):
    """Base: constructs the graft.ml java twin, declares its Params and
    binds `set<Param>`/`get<Param>` to them (see the module docstring)."""

    _java_class = None  # "graft.ml.<ClassName>" — set by subclasses

    def __init__(self, **args):
        super(_GraftTransformer, self).__init__()
        self._java_obj = self._new_java_obj(self._java_class, self.uid)
        params, self._bindings = _declaration(self._java_obj)
        for name, doc, converter in params:
            setattr(self, name, Param(self, name, doc, typeConverter=converter))
        self._transfer_params_from_java()
        for name, value in args.items():
            if value is not None:
                getattr(self, "set" + name[0].upper() + name[1:])(value)

    def __getattr__(self, name):
        bindings = self.__dict__.get("_bindings", {})
        if name not in bindings:
            raise AttributeError(
                "'%s' object has no attribute '%s'" % (type(self).__name__, name))
        param = bindings[name]
        if name.startswith("get"):
            return lambda: self.getOrDefault(param)

        def call(*args):
            self._transfer_params_to_java()
            _call_jvm(SparkContext._active_spark_context, self._java_obj, name, args)
            self._transfer_params_from_java()
            return self

        call.__doc__ = self.getParam(param).doc
        return call


class LinearKalmanFilter(_GraftTransformer):
    """Linear Kalman filter as a pyspark.ml Pipeline stage: transforms a
    DataFrame (batch or streaming) of measurements into per-key state
    estimates; one independent filter runs per distinct ``stateKeyCol``
    value. Parity: reference python/artan/filter/linear_kalman_filter.py:26."""

    _java_class = "graft.ml.LinearKalmanFilter"

    def __init__(self, stateSize=None, measurementSize=None):
        super(LinearKalmanFilter, self).__init__(
            stateSize=stateSize, measurementSize=measurementSize)


class LinearKalmanSmoother(_GraftTransformer):
    """Rauch-Tung-Striebel smoother Pipeline stage: full forward filter pass
    + backward smoothing recursion per key (fixed-lag when ``fixedLag`` is
    set). Parity: reference python/artan/smoother/linear_kalman_smoother.py."""

    _java_class = "graft.ml.LinearKalmanSmoother"

    def __init__(self, stateSize=None, measurementSize=None):
        super(LinearKalmanSmoother, self).__init__(
            stateSize=stateSize, measurementSize=measurementSize)


class ExtendedKalmanFilter(_GraftTransformer):
    """Extended Kalman filter Pipeline stage with a NAMED measurement
    family: ``h(x) = g(H·x)`` with g = 'square' or 'exp' (the GLM log link
    of the reference's EKFRateSourceGLMLog example); the analytic jacobian
    is derived from the family on the Scala side. Per-row data rides in
    ``measurementModelCol``. The reference's python package has no EKF at
    all (its lambda API cannot cross py4j) — this is an overtake, not a
    port."""

    _java_class = "graft.ml.ExtendedKalmanFilter"

    def __init__(self, stateSize=None, measurementSize=None):
        super(ExtendedKalmanFilter, self).__init__(
            stateSize=stateSize, measurementSize=measurementSize)


class UnscentedKalmanFilter(_GraftTransformer):
    """Unscented Kalman filter Pipeline stage with named measurement
    families ('square' / 'exp') and the full sigma-point surface (merwe /
    julier) plus RAUKF adaptive process noise. Reference parity point:
    UKFRateSourceGLMLog.scala — from python."""

    _java_class = "graft.ml.UnscentedKalmanFilter"

    def __init__(self, stateSize=None, measurementSize=None):
        super(UnscentedKalmanFilter, self).__init__(
            stateSize=stateSize, measurementSize=measurementSize)


class CubatureKalmanFilter(_GraftTransformer):
    """Cubature Kalman filter Pipeline stage with named measurement
    families ('square' / 'exp'). Like the EKF/UKF, an overtake over the
    reference's python surface."""

    _java_class = "graft.ml.CubatureKalmanFilter"

    def __init__(self, stateSize=None, measurementSize=None):
        super(CubatureKalmanFilter, self).__init__(
            stateSize=stateSize, measurementSize=measurementSize)


class RecursiveLeastSquaresFilter(_GraftTransformer):
    """Recursive least squares Pipeline stage: online linear regression with
    exponential forgetting, one model per key. Parity: reference
    python/artan/filter/recursive_least_squares_filter.py."""

    _java_class = "graft.ml.RecursiveLeastSquaresFilter"

    def __init__(self, featuresSize=None):
        super(RecursiveLeastSquaresFilter, self).__init__(featuresSize=featuresSize)


class LeastMeanSquaresFilter(_GraftTransformer):
    """Normalized least-mean-squares Pipeline stage. Parity: reference
    python/artan/filter/least_mean_squares_filter.py."""

    _java_class = "graft.ml.LeastMeanSquaresFilter"

    def __init__(self, featuresSize=None):
        super(LeastMeanSquaresFilter, self).__init__(featuresSize=featuresSize)


class MultivariateGaussianMixture(_GraftTransformer):
    """Online multivariate gaussian mixture Pipeline stage. Parity:
    reference python/artan/mixture/multivariate_gaussian_mixture.py."""

    _java_class = "graft.ml.MultivariateGaussianMixture"

    def __init__(self, mixtureCount=None, sampleSize=None):
        super(MultivariateGaussianMixture, self).__init__(
            mixtureCount=mixtureCount, sampleSize=sampleSize)


class PoissonMixture(_GraftTransformer):
    """Online Poisson mixture Pipeline stage. Parity: reference
    python/artan/mixture/poisson_mixture.py."""

    _java_class = "graft.ml.PoissonMixture"

    def __init__(self, mixtureCount=None):
        super(PoissonMixture, self).__init__(mixtureCount=mixtureCount)


class BernoulliMixture(_GraftTransformer):
    """Online Bernoulli mixture Pipeline stage. Parity: reference
    python/artan/mixture/bernoulli_mixture.py."""

    _java_class = "graft.ml.BernoulliMixture"

    def __init__(self, mixtureCount=None):
        super(BernoulliMixture, self).__init__(mixtureCount=mixtureCount)


__all__ = [
    "LinearKalmanFilter", "LinearKalmanSmoother",
    "ExtendedKalmanFilter", "UnscentedKalmanFilter", "CubatureKalmanFilter",
    "RecursiveLeastSquaresFilter", "LeastMeanSquaresFilter",
    "MultivariateGaussianMixture", "PoissonMixture", "BernoulliMixture",
]
