"""PySpark bindings for the graft Scala library (py4j wrappers).

Thin driver-side wrappers over the compiled Scala classes: each Python class
holds the JVM estimator, forwards `set*` calls with py4j argument conversion
(numbers coerced to the JVM parameter type, sequences -> double[] /
double[][], Mat -> graft DMat), and returns pyspark DataFrames from
`transform`. No Python-side compute — the JVM runs exactly the same code a
Scala caller gets, so batch/streaming semantics and results are identical.

Two binding styles ship side by side:

- this module: generic forwarding proxies over the plain-Scala builders
  (chained setters) — zero-dependency, mirrors the Scala call shape exactly;
- ``graft.ml``: pyspark.ml-NATIVE ``Params`` estimators (the reference
  library's python contract — python/artan/filter/linear_kalman_filter.py)
  that compose in ``pyspark.ml.Pipeline``, expose get/set introspection,
  and JSON-persist via ``save()``/``load()``; their Params, setters and
  defaults come from the JVM stage. Prefer ``graft.ml`` for Pipeline
  workflows; the proxies remain for scripting parity.

Both styles share one argument converter: they call the JVM through
`_call_jvm`, which converts each argument by the JVM method's parameter type.

Usage (classpath must contain target/scala-2.13/classes):

    from graft import LinearKalmanFilter, Mat
    lkf = (LinearKalmanFilter(spark, 1, 1)
           .setStateKeyCol("key").setEventTimeCol("ts")
           .setMeasurementCol("meas")
           .setInitialStateCovariance(Mat([[10.0]]))
           .setProcessNoise(Mat([[1.0]]))
           .setMeasurementNoise(Mat([[4.0]])))
    out = lkf.transform(df)

Estimators whose parameters are functions (ExtendedKalmanFilter's state
transition lambdas, UKF/CKF) are not wrapped — Scala lambdas cannot cross
py4j; use the Scala API or the fixed-matrix LinearKalmanFilter family.
"""

from pyspark.sql import DataFrame


class Mat:
    """Row-major dense matrix literal: Mat([[a, b], [c, d]]) -> graft DMat."""

    def __init__(self, rows):
        self.num_rows = len(rows)
        self.num_cols = len(rows[0]) if rows else 0
        for r in rows:
            if len(r) != self.num_cols:
                raise ValueError("ragged matrix")
        self.values = [float(v) for r in rows for v in r]

    @staticmethod
    def eye(n, scale=1.0):
        return Mat([[scale if i == j else 0.0 for j in range(n)] for i in range(n)])


# ---------------------------------------------------------------------------
# Argument conversion, shared with graft.ml

_SIGNATURES = {}  # JVM class name -> {method name: [parameter type names, ...]}


def _signatures(java_obj):
    """The public methods of `java_obj`'s class: name -> the parameter type
    names (`Class.getName()`: "double", "[D", "graft.linalg.DMat", ...) of
    each overload. Read by reflection once per class."""
    cls = java_obj.getClass()
    name = cls.getName()
    if name not in _SIGNATURES:
        table = {}
        for m in cls.getMethods():
            types = [t.getName() for t in m.getParameterTypes()]
            table.setdefault(m.getName(), []).append(types)
        _SIGNATURES[name] = table
    return _SIGNATURES[name]


def _double_array(sc, vals):
    arr = sc._gateway.new_array(sc._jvm.double, len(vals))
    for i, v in enumerate(vals):
        arr[i] = float(v)
    return arr


def _double_array_2d(sc, rows):
    arr = sc._gateway.new_array(sc._jvm.double, len(rows), len(rows[0]) if rows else 0)
    for i, r in enumerate(rows):
        for j, v in enumerate(r):
            arr[i][j] = float(v)
    return arr


def _to_java(sc, value, jtype=None):
    """`value` as a py4j argument of JVM type `jtype` (None: judged by the
    Python value). py4j matches a Python int to no `double` parameter and a
    list to no `double[]`, so numbers are coerced and sequences become
    arrays; Mat becomes a graft DMat and pyspark.ml Vectors and Matrices
    their JVM twins."""
    # pyspark.ml needs numpy: imported here so `import graft` does not
    from pyspark.ml.common import _py2java
    from pyspark.ml.linalg import Matrix, Vector
    from pyspark.ml.param import TypeConverters

    if isinstance(value, Mat):
        module = getattr(getattr(sc._jvm.graft.linalg, "DMat$"), "MODULE$")
        return module.apply(value.num_rows, value.num_cols, _double_array(sc, value.values))
    if jtype is None and isinstance(value, (list, tuple)):
        jtype = "[[D" if value and isinstance(value[0], (list, tuple)) else "[D"
    if jtype == "double":
        return TypeConverters.toFloat(value)
    if jtype == "int":
        return TypeConverters.toInt(value)
    if jtype == "[D":
        return _double_array(sc, TypeConverters.toListFloat(value))
    if jtype == "[[D":
        return _double_array_2d(sc, TypeConverters.toListListFloat(value))
    if isinstance(value, (Vector, Matrix)):
        return _py2java(sc, value)
    return value


def _call_jvm(sc, java_obj, name, args):
    """`java_obj.name(*args)`, each argument converted by `_to_java` to the
    parameter type of the method's one overload of that arity (by value
    alone when there are several)."""
    overloads = [t for t in _signatures(java_obj).get(name, []) if len(t) == len(args)]
    types = overloads[0] if len(overloads) == 1 else [None] * len(args)
    return getattr(java_obj, name)(*[_to_java(sc, a, t) for a, t in zip(args, types)])


class _JvmEstimator:
    """Generic forwarding proxy around a graft JVM estimator."""

    _jvm_class = None  # e.g. "graft.filter.LinearKalmanFilter"

    def __init__(self, spark, *ctor_args):
        self._spark = spark
        cls = spark._jvm
        for part in self._jvm_class.split("."):
            cls = getattr(cls, part)
        self._java_obj = cls(*[_to_java(spark._sc, a) for a in ctor_args])

    def __getattr__(self, name):
        # only setter-style chained calls forward generically; anything else
        # (typos included) still reaches the JVM and fails there with the
        # real signature in the py4j error
        def call(*args):
            result = _call_jvm(self._spark._sc, self._java_obj, name, args)
            # chained setters return the JVM estimator itself -> rewrap as self
            if result is not None and getattr(result, "_target_id", None) == \
                    getattr(self._java_obj, "_target_id", object()):
                return self
            if result is not None and result.__class__.__name__ == "JavaObject" \
                    and result.equals(self._java_obj):
                return self
            return result

        return call

    def transform(self, df):
        """Run the estimator on a pyspark DataFrame (batch or streaming)."""
        return DataFrame(self._java_obj.transform(df._jdf), self._spark)


class LinearKalmanFilter(_JvmEstimator):
    """graft.filter.LinearKalmanFilter(stateSize, measurementSize)."""
    _jvm_class = "graft.filter.LinearKalmanFilter"


class LinearKalmanSmoother(_JvmEstimator):
    """graft.smoother.LinearKalmanSmoother(stateSize, measurementSize)."""
    _jvm_class = "graft.smoother.LinearKalmanSmoother"


class RecursiveLeastSquaresFilter(_JvmEstimator):
    """graft.filter.RecursiveLeastSquaresFilter(featuresSize)."""
    _jvm_class = "graft.filter.RecursiveLeastSquaresFilter"


class LeastMeanSquaresFilter(_JvmEstimator):
    """graft.filter.LeastMeanSquaresFilter(featuresSize)."""
    _jvm_class = "graft.filter.LeastMeanSquaresFilter"


class MultivariateGaussianMixture(_JvmEstimator):
    """graft.mixture.MultivariateGaussianMixture(mixtureCount, sampleSize)."""
    _jvm_class = "graft.mixture.MultivariateGaussianMixture"


class PoissonMixture(_JvmEstimator):
    """graft.mixture.PoissonMixture(mixtureCount)."""
    _jvm_class = "graft.mixture.PoissonMixture"


class BernoulliMixture(_JvmEstimator):
    """graft.mixture.BernoulliMixture(mixtureCount)."""
    _jvm_class = "graft.mixture.BernoulliMixture"


# ---------------------------------------------------------------------------
# Pipeline operators (graft.operators / graft.dedup / graft.sim): module-level
# functions over pyspark DataFrames. Scala object methods compile with fixed
# arity, so every argument is passed explicitly (no keyword defaults cross
# py4j). All compute stays in the JVM.

def _module(spark, name):
    obj = spark._jvm
    for part in name.split("."):
        obj = getattr(obj, part)
    return getattr(obj, "MODULE$")


def _str_seq(df, items):
    jvm = df.sparkSession._jvm
    return jvm.PythonUtils.toSeq(list(items))


def _wrap(df, jdf):
    return DataFrame(jdf, df.sparkSession)


def with_split(df, id_col, train_pct=80, val_pct=10):
    """Deterministic md5-bucket train/val/test split (adds a `split` column)."""
    m = _module(df.sparkSession, "graft.operators.DatasetSplit$")
    return _wrap(df, m.withSplit(df._jdf, id_col, train_pct, val_pct))


def cap_per_group(df, id_col, group_col, k):
    """Cap each group at k rows by deterministic lowest-hash sampling."""
    m = _module(df.sparkSession, "graft.operators.DatasetSplit$")
    return _wrap(df, m.capPerGroup(df._jdf, id_col, group_col, k))


def stratified_sample(df, id_col, stratum_col, target):
    """Keep ~target rows per stratum by integer hash-thresholding."""
    m = _module(df.sparkSession, "graft.operators.DatasetSplit$")
    return _wrap(df, m.stratifiedSample(df._jdf, id_col, stratum_col, target))


def with_shard(df, id_col, weight_col, group_cols, capacity):
    """Sequence packing: assign docs to fixed-budget shards within groups."""
    m = _module(df.sparkSession, "graft.operators.ShardPacking$")
    return _wrap(df, m.withShard(df._jdf, id_col, weight_col,
                                 _str_seq(df, group_cols), capacity))


def remove_boilerplate(df, id_col, text_col, min_doc_freq):
    """Strip lines occurring in >= min_doc_freq distinct docs."""
    m = _module(df.sparkSession, "graft.operators.LineDedup$")
    return _wrap(df, m.removeBoilerplate(df._jdf, id_col, text_col, min_doc_freq))


def decontaminate(train, eval_df, id_col, text_col, n=5):
    """Per-doc token-n-gram overlap profile against an eval/benchmark set."""
    m = _module(train.sparkSession, "graft.operators.Decontamination$")
    return _wrap(train, m.overlap(train._jdf, eval_df._jdf, id_col, text_col, n))


def curation_funnel(docs, eval_df, id_col, text_col, chars_col,
                    min_chars=200, min_toks=30, max_toks=10000, max_dup_pct=30):
    """Per-stage survivor counts for the length/token/repetition/decontam funnel."""
    m = _module(docs.sparkSession, "graft.operators.CurationFunnel$")
    return _wrap(docs, m.funnel(docs._jdf, eval_df._jdf, id_col, text_col,
                                chars_col, min_chars, min_toks, max_toks, max_dup_pct))


def top_ngrams(df, id_col, text_col, n, k):
    """Top-k most frequent word n-grams with occurrence + doc frequencies."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.topNGrams(df._jdf, id_col, text_col, n, k))


def surprisal(df, id_col, text_col):
    """Quantized unigram surprisal (integer bits) per document."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.surprisal(df._jdf, id_col, text_col))


def dedup_pipeline(df, id_col, text_col, threshold,
                   num_hashes=32, bands=8, shingle=3, max_iters=20):
    """Star LSH -> root resolution -> keep-longest; one row per final group."""
    jvm = df.sparkSession._jvm
    lsh = jvm.graft.dedup.MinHashLSH(num_hashes, bands, shingle)
    m = _module(df.sparkSession, "graft.dedup.Dedup$")
    return _wrap(df, m.pipeline(df._jdf, id_col, text_col, float(threshold),
                                lsh, max_iters))


def sem_dedup(df, id_col, vec_col, k, iters, threshold,
              round_to=6, hier_assign=False):
    """SemDeDup over an embedding column; set hier_assign once k is large."""
    m = _module(df.sparkSession, "graft.sim.Similarity$")
    return _wrap(df, m.semDedup(df._jdf, id_col, vec_col, k, iters,
                                threshold, round_to, hier_assign))


def sample_proportional(df, id_col, weight_col, full_weight):
    """Keep rows with probability min(1, w/full_weight), md5-deterministic."""
    m = _module(df.sparkSession, "graft.operators.DatasetSplit$")
    return _wrap(df, m.sampleProportional(df._jdf, id_col, weight_col, full_weight))


def percentiles_disc(df, group_col, value_col, id_col, qs):
    """Exact per-group order statistics (percentile_disc by rank selection)."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.percentilesDisc(df._jdf, group_col, value_col, id_col,
                                       _str_seq(df, [int(q) for q in qs])))


def gopher_flags(df, id_col, text_col):
    """Gopher quality-rule flags (7 rules + pass_all) per document."""
    m = _module(df.sparkSession, "graft.text.QualityRules$")
    return _wrap(df, m.gopherFlags(df._jdf, id_col, text_col))


def range_join(points, intervals, t_col, start_col, end_col, bucket_width):
    """Point-in-interval join via interval bucketing (no nested-loop plan)."""
    m = _module(points.sparkSession, "graft.operators.RangeJoin$")
    return _wrap(points, m.pointInInterval(points._jdf, intervals._jdf,
                                           t_col, start_col, end_col, bucket_width))


def substring_profile(df, id_col, text_col, width=40, rate=10):
    """Per-doc repeated-substring profile: winnowing-sampled fixed-width
    window hashes, flagged when shared by >=2 distinct docs."""
    m = _module(df.sparkSession, "graft.dedup.SubstringDedup$")
    return _wrap(df, m.repeatedWindowProfile(df._jdf, id_col, text_col, width, rate))


def redact_pii(col):
    """Column -> Column: emails then long digit runs replaced by
    <EMAIL>/<ID> placeholder tokens (replay-exact regex subset)."""
    from pyspark.sql.column import Column as _PyCol
    from pyspark.sql import SparkSession as _S
    spark = _S.getActiveSession()
    m = _module(spark, "graft.text.TextFunctions$")
    return _PyCol(m.redactPii(col._jc))


def tfidf_top(df, id_col, text_col, k):
    """Top-k TF-IDF terms per document (integer bit-length idf)."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.tfIdfTop(df._jdf, id_col, text_col, k))


def quantize_int8(df, vec_col):
    """Adds per-vector absmax `scale` and int8-range `qvec` code columns."""
    m = _module(df.sparkSession, "graft.sim.Quantization$")
    return _wrap(df, m.withInt8(df._jdf, vec_col))


# -------------------------------------------------- round-6 wrappers

def normalize_text(col):
    """Column -> Column: deterministic canonicalization (lowercase, collapse
    whitespace, trim, squeeze stuttered .!?- runs) — the dedup pre-step."""
    from pyspark.sql.column import Column as _PyCol
    from pyspark.sql import SparkSession as _S
    spark = _S.getActiveSession()
    m = _module(spark, "graft.text.TextFunctions$")
    return _PyCol(m.normalize(col._jc))


def bigram_surprisal(df, id_col, text_col):
    """Quantized bigram surprisal (integer conditional-LM bits) per doc."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.bigramSurprisal(df._jdf, id_col, text_col))


def knn_graph(df, id_col, vec_col, k, planes, dim, round_to=6):
    """Approximate k-NN graph: top-k cosine neighbors within LSH buckets."""
    m = _module(df.sparkSession, "graft.sim.Similarity$")
    return _wrap(df, m.knnGraph(df._jdf, id_col, vec_col, k, planes, dim, round_to))


def pq_search(corpus, queries, id_col, vec_col, qid_col, qvec_col,
              dim, m_sub=8, codes=32, iters=2, k=10, shortlist=100):
    """Product-quantization ANN: per-subspace codebooks, ADC scan over
    codes, exact rerank of a per-query shortlist."""
    m = _module(corpus.sparkSession, "graft.sim.ProductQuantizer$")
    return _wrap(corpus, m.searchTopK(corpus._jdf, queries._jdf, id_col, vec_col,
                                      qid_col, qvec_col, dim, m_sub, codes,
                                      iters, k, shortlist))


def contamination_attribution(train, eval_df, id_col, text_col, n=5):
    """Per (train doc, eval doc) shared distinct n-gram counts — the audit
    behind decontamination drop decisions."""
    m = _module(train.sparkSession, "graft.operators.Decontamination$")
    return _wrap(train, m.attribution(train._jdf, eval_df._jdf, id_col, text_col, n))


def ivfpq_search(corpus, queries, id_col, vec_col, qid_col, qvec_col,
                 dim, k_coarse=32, m_sub=8, codes=32, iters=2,
                 k=10, nprobe=4, shortlist=50):
    """IVF-PQ ANN (FAISS IVFADC layout): coarse cells route each query to
    nprobe cells, PQ codes score only those cells' rows, exact rerank."""
    jvm = corpus.sparkSession._jvm
    sim = _module(corpus.sparkSession, "graft.sim.Similarity$")
    pq = _module(corpus.sparkSession, "graft.sim.ProductQuantizer$")
    coarse = sim.ivfTrainKMeans(corpus._jdf, id_col, vec_col, k_coarse, iters, False)
    cbs = pq.train(corpus._jdf, id_col, vec_col, dim, m_sub, codes, iters)
    return _wrap(corpus, pq.ivfPqTopK(coarse, cbs, corpus._jdf, queries._jdf,
                                      id_col, vec_col, qid_col, qvec_col,
                                      dim, k, nprobe, shortlist, 6))


# -------------------------------------------------- training-assembly wrappers

def nb_train(df, text_col, label_col):
    """Train a multinomial Naive Bayes quality model: per token, pos/neg
    occurrence counts and the bit-quantized log-likelihood ratio."""
    m = _module(df.sparkSession, "graft.text.TextClassifiers$")
    return _wrap(df, m.naiveBayesTrain(df._jdf, text_col, label_col))


def nb_score(df, id_col, text_col, label_col, model):
    """Score every doc under a trained NB model (broadcast join):
    (id, n_toks, score, pred)."""
    m = _module(df.sparkSession, "graft.text.TextClassifiers$")
    return _wrap(df, m.naiveBayesScore(df._jdf, id_col, text_col, label_col,
                                       model._jdf))


def dsir_weights(df, id_col, text_col, target_col, buckets=1024):
    """DSIR importance weights (hashed-bigram bucket models, target vs raw):
    per doc the quantized log(p_target/p_raw) and a keep flag."""
    m = _module(df.sparkSession, "graft.text.TextClassifiers$")
    return _wrap(df, m.dsirWeights(df._jdf, id_col, text_col, target_col, buckets))


def shuffle_shards(df, id_col, epochs, n_shards):
    """Deterministic per-epoch training shuffle: (epoch, shard, id, pos),
    reproducible from (id, epoch) alone, no global sort."""
    m = _module(df.sparkSession, "graft.operators.TrainingOrder$")
    return _wrap(df, m.shuffleShards(df._jdf, id_col, epochs, n_shards))


def upsample_to_allocation(df, id_col, group_col, alloc):
    """Materialize a mixing allocation into exactly `alloc` rows per group
    by deterministic repetition (full copies + lowest-hash remainder)."""
    m = _module(df.sparkSession, "graft.operators.TrainingOrder$")
    return _wrap(df, m.upsampleToAllocation(df._jdf, id_col, group_col, alloc._jdf))


def interleave(upsampled, id_col, group_col):
    """Deterministic proportional interleave (Bresenham schedule): each
    group's rows spaced evenly over the whole training order."""
    m = _module(upsampled.sparkSession, "graft.operators.TrainingOrder$")
    return _wrap(upsampled, m.interleave(upsampled._jdf, id_col, group_col))


def token_drift(df, text_col, side_col, k):
    """Distribution-shift monitor between two corpus slices: top-k tokens by
    cross-multiplied frequency gap |n_a*T_b - n_b*T_a| (BIGINT-exact)."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.tokenDrift(df._jdf, text_col, side_col, k))


def bottom_k_sample(df, group_col, id_col, k):
    """Deterministic per-group k-sample: keep each group's k lowest-md5(id)
    rows (mergeable, reproducible reservoir replacement)."""
    m = _module(df.sparkSession, "graft.operators.DatasetSplit$")
    return _wrap(df, m.bottomKSample(df._jdf, group_col, id_col, k))


def perceptual_hash(df, id_col, payload_col):
    """63-bit dHash of a decoded image payload column: (id, phash) —
    invariant to byte edits that don't change the rendered raster."""
    m = _module(df.sparkSession, "graft.multimodal.Multimodal$")
    return _wrap(df, m.perceptualHash(df._jdf, id_col, payload_col))


def audio_fingerprint(df, id_col, payload_col):
    """Delta-sign fingerprint of a decoded PCM payload column: (id, afp) —
    the audio twin of perceptual_hash."""
    m = _module(df.sparkSession, "graft.multimodal.Multimodal$")
    return _wrap(df, m.audioFingerprint(df._jdf, id_col, payload_col))


def video_fingerprint(df, id_col, payload_col):
    """Middle-frame dHash of a video payload column: (id, vfp)."""
    m = _module(df.sparkSession, "graft.multimodal.Multimodal$")
    return _wrap(df, m.videoFingerprint(df._jdf, id_col, payload_col))


def with_jpeg_payload(df, text_col):
    """Adds a `payload` column holding a REAL baseline JPEG (hand-built
    ITU-T T.81 stream, DC-only uniform blocks so the lossy round trip is
    byte-exact) of the block-mosaic raster of the text bytes."""
    m = _module(df.sparkSession, "graft.multimodal.Multimodal$")
    return _wrap(df, m.withJpegPayload(df._jdf, text_col))


def with_mosaic_bmp_payload(df, text_col):
    """Adds a `payload` column holding a 24-bit BMP of the same block-mosaic
    raster contract as with_jpeg_payload (cross-format dedup fixture)."""
    m = _module(df.sparkSession, "graft.multimodal.Multimodal$")
    return _wrap(df, m.withMosaicBmpPayload(df._jdf, text_col))


def chunk_documents(df, id_col, text_col, size, stride):
    """Sliding-window doc chunking: one row per (doc, chunk) with token
    count and chunk md5. Map-side; overlap = size - stride."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.chunkDocuments(df._jdf, id_col, text_col, size, stride))


def curriculum(df, id_col, level_col, n_shards):
    """Curriculum staging: (level, shard, id, pos) — consume levels
    ascending, shards in order, each shard sequentially. Level and shard are
    map-side; the only shuffle is the per-(level, shard) window."""
    m = _module(df.sparkSession, "graft.operators.TrainingOrder$")
    return _wrap(df, m.curriculum(df._jdf, id_col, level_col, n_shards))


def length_bucket_batches(df, id_col, weight_col, batch_size):
    """Length-bucketed batch assembly: log2-weight buckets, md5-ordered
    fixed-size batches — bounds pad-to-max waste under 50% worst case."""
    m = _module(df.sparkSession, "graft.operators.TrainingOrder$")
    return _wrap(df, m.lengthBucketBatches(df._jdf, id_col, weight_col, batch_size))


def budget_allocation(sizes, group_col, size_col, total_target, max_epochs):
    """Repetition-capped mixing budget: sqrt-tempered shares of
    `total_target`, clamped at `max_epochs` x each group's own size, with
    the clamped shortfall surfaced per group."""
    m = _module(sizes.sparkSession, "graft.operators.DatasetSplit$")
    return _wrap(sizes, m.budgetAllocation(sizes._jdf, group_col, size_col,
                                           total_target, max_epochs))


def funnel(events, user_col, type_col, ts_col, stages):
    """Ordered funnel conversion by first-occurrence times: one row with
    n_users and reached_1..reached_n counts (stage k reached when every
    earlier stage's first occurrence is no later)."""
    m = _module(events.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(events, m.funnel(events._jdf, user_col, type_col, ts_col,
                                  _str_seq(events, list(stages))))


def retention(events, user_col, ts_col):
    """Weekly cohort retention triangle: (cohort_week, week_offset, n_users)
    with cohort = week of the user's first event."""
    m = _module(events.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(events, m.retention(events._jdf, user_col, ts_col))


def containment_pairs(df, id_col, text_col, shingle_size, max_doc_freq,
                      min_shared, threshold):
    """Excerpt/quote containment dedup: rare-shingle inverted index
    candidates (doc-freq capped), exact containment ratio >= threshold."""
    m = _module(df.sparkSession, "graft.dedup.ContainmentIndex$")
    return _wrap(df, m.excerptPairs(df._jdf, id_col, text_col, shingle_size,
                                    max_doc_freq, min_shared, float(threshold)))


def train_subword_vocab(df, text_col, max_len, vocab_size, min_count):
    """Corpus-trained subword vocabulary: top char grams (len 2..max_len) by
    (count desc, gram asc) above min_count — the tokenizer model."""
    m = _module(df.sparkSession, "graft.text.SubwordTokenizer$")
    return _wrap(df, m.trainVocab(df._jdf, text_col, max_len, vocab_size,
                                  min_count))


def subword_token_counts(df, text_col, vocab, max_len, out_col):
    """Tokenizer-faithful token counting: greedy longest-prefix segmentation
    against a trained vocab; appends the per-row subword count as out_col."""
    m = _module(df.sparkSession, "graft.text.SubwordTokenizer$")
    k = m.kernel(vocab._jdf, max_len)
    return _wrap(df, m.withSubwordCount(df._jdf, text_col, k, out_col))


def semantic_decontaminate(corpus, eval_df, id_col, vec_col, eval_id_col,
                           eval_vec_col, threshold):
    """Embedding-space decontamination: corpus vectors within cosine
    `threshold` of any eval vector, best eval match kept for attribution.
    Eval broadcasts; the threshold filter runs map-side."""
    m = _module(corpus.sparkSession, "graft.sim.Similarity$")
    return _wrap(corpus, m.semanticContamination(
        corpus._jdf, eval_df._jdf, id_col, vec_col, eval_id_col, eval_vec_col,
        float(threshold), 6))


def funnel_windowed(events, user_col, type_col, ts_col, stages, max_gap_seconds):
    """Gap-windowed funnel: stage k must land within max_gap_seconds of
    stage k-1 (0 = unbounded)."""
    m = _module(events.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(events, m.funnel(events._jdf, user_col, type_col, ts_col,
                                  _str_seq(events, list(stages)),
                                  max_gap_seconds))


def time_to_convert(events, user_col, type_col, ts_col, from_stage, to_stage):
    """Whole-hour conversion-latency distribution in log2 buckets."""
    m = _module(events.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(events, m.timeToConvert(events._jdf, user_col, type_col,
                                         ts_col, from_stage, to_stage))


def bpe_train(docs, text_col, n_merges, min_pair_count):
    """Real distributed BPE training (Sennrich): returns (merges, words) —
    merges as a list of (step, left, right, merged, pair_count) tuples and
    the final word tokenization DataFrame."""
    m = _module(docs.sparkSession, "graft.text.BpeTrainer$")
    res = m.train(docs._jdf, text_col, n_merges, min_pair_count)
    jmerges, jwords = res._1(), res._2()
    it = jmerges.iterator()
    merges = []
    while it.hasNext():
        mg = it.next()
        merges.append((mg.step(), mg.left(), mg.right(), mg.merged(), mg.pairCount()))
    return merges, _wrap(docs, jwords)


def bpe_segment_counts(docs, id_col, text_col, words):
    """Per-doc token counts under a trained BPE word tokenization."""
    m = _module(docs.sparkSession, "graft.text.BpeTrainer$")
    return _wrap(docs, m.segmentCounts(docs._jdf, id_col, text_col, words._jdf))


def near_dup_safe_split(df, id_col, text_col, threshold, train_pct=80, val_pct=10):
    """Leakage-proof split on the NEAR-dup component root: paraphrased or
    truncated copies never cross the train/test boundary."""
    jvm = df.sparkSession._jvm
    m = _module(df.sparkSession, "graft.operators.DatasetSplit$")
    lsh = jvm.graft.dedup.MinHashLSH(32, 8, 3)
    return _wrap(df, m.nearDupSafeSplit(df._jdf, id_col, text_col,
                                        float(threshold), train_pct, val_pct, lsh))


def transitions(events, user_col, type_col, ts_col, id_col):
    """First-order Markov event-transition matrix: (from_type, to_type, n,
    prob_micro) from adjacent pairs per user under total (ts, id) order."""
    m = _module(events.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(events, m.transitions(events._jdf, user_col, type_col,
                                       ts_col, id_col))


def top_paths(events, user_col, type_col, ts_col, id_col, path_len, k):
    """Top-k user journeys: first path_len event types per user joined with
    '>', ranked by user count (ties path-ascending)."""
    m = _module(events.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(events, m.topPaths(events._jdf, user_col, type_col, ts_col,
                                    id_col, path_len, k))


def blocklist_counts(df, text_col, patterns, out_col="counts"):
    """array<bigint> of per-pattern occurrence counts via one Aho-Corasick
    byte walk per row (the automaton rides as a codegen reference object)."""
    jvm = df.sparkSession._jvm
    m = _module(df.sparkSession, "graft.text.Blocklist$")
    kern = m.kernel(_str_seq(df, list(patterns)))
    from pyspark.sql.column import Column
    from pyspark.sql.functions import col as _col
    jcol = m.counts(_col(text_col)._jc, kern)
    return df.withColumn(out_col, Column(jcol))


def moments(df, group_col, val_col):
    """Single-pass per-group raw-moment profile of an integer column:
    (n, s1..s3, s4_q6, mean_micro, var_micro) - one aggregation shuffle."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.moments(df._jdf, group_col, val_col))


def pagerank_top(nodes, edges, id_col, src_col, dst_col, iters, k,
                 damp_micro=850000):
    """Top-k nodes by integer-exact PageRank (micro-scaled int64, no FP):
    one co-partitioned join + agg per iteration, caches released."""
    m = _module(nodes.sparkSession, "graft.sim.GraphRank$")
    return _wrap(nodes, m.pageRankTop(nodes._jdf, edges._jdf, id_col,
                                      src_col, dst_col, iters, k,
                                      damp_micro))


def k_centers(df, id_col, vec_col, k, round_to=6):
    """Greedy farthest-first k-center diversity selection: (rank, id,
    sel_sim) - k map-side scan rounds, deterministic trajectory."""
    m = _module(df.sparkSession, "graft.sim.KCenter$")
    return _wrap(df, m.farthestFirst(df._jdf, id_col, vec_col, k, round_to))


def attribution(events, user_col, type_col, ts_col, id_col, conv_type):
    """First/last-touch conversion attribution: (event_type,
    first_touch_users, last_touch_users) for the touches strictly before
    each user's first conv_type event. One exchange on the user key."""
    m = _module(events.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(events, m.attribution(events._jdf, user_col, type_col,
                                       ts_col, id_col, conv_type))


def rfm_segments(orders, cust_col, date_col, amount_col):
    """Log2-bucketed RFM segmentation: (r_bucket, f_bucket, m_bucket,
    n_customers, total_monetary, max_freq) with exact DECIMAL revenue and
    data-independent bit-length bucket edges (no global ntile sort)."""
    m = _module(orders.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(orders, m.rfmSegments(orders._jdf, cust_col, date_col,
                                       amount_col))


def pmi_collocations(df, id_col, text_col, min_count, k):
    """Top-k bigram collocations by staged-integer pointwise lift
    (lift_micro, exact to 100 TB token totals); count-table joins only."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.pmiCollocations(df._jdf, id_col, text_col,
                                       int(min_count), int(k)))


def char_entropy(df, id_col, text_col):
    """Quantized per-doc character entropy over [a-z0-9] classes:
    (id, n_alnum, ent_milli) in exact millibits/char — the
    vocabulary-free gibberish/boilerplate signal."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.charEntropy(df._jdf, id_col, text_col))


def ngram_diversity(df, group_col, text_col):
    """Per-group distinct 1/2/3-gram counts + type/token ratios
    (ttr_milli): trigram TTR collapse = templated source."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.ngramDiversity(df._jdf, group_col, text_col))


def oov_rate(df, group_col, text_col, vocab_size):
    """Per-group OOV permille against the corpus' own top-V vocabulary
    (exact deterministic cut; vocab rides as one codegen kernel)."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.oovRate(df._jdf, group_col, text_col, int(vocab_size)))


def zipf_profile(df, text_col, max_rank):
    """Term frequency at power-of-two ranks with exact floor-log2 bits —
    the one-glance Zipf corpus-health plot."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.zipfProfile(df._jdf, text_col, int(max_rank)))


def readability(df, id_col, text_col):
    """Integer Flesch-style readability per doc (vowel-group syllable
    proxy): pure map-side projection, zero shuffles."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.readability(df._jdf, id_col, text_col))


def prefix_clusters(df, id_col, text_col, k):
    """Clusters of docs sharing their first k word tokens — the
    crawl-boilerplate head detector; one bounded-prefix hash agg."""
    m = _module(df.sparkSession, "graft.dedup.ExactDedup$")
    return _wrap(df, m.prefixClusters(df._jdf, id_col, text_col, int(k)))


def daily_anomalies(events, type_col, ts_col, min_score_milli=0):
    """Robust (median/MAD) daily-volume anomaly scores per event type;
    windows run on the bounded (types x days) profile, never on events."""
    m = _module(events.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(events, m.dailyAnomalies(events._jdf, type_col, ts_col,
                                          int(min_score_milli)))


def session_stats(events, user_col, ts_col, gap_sec=1800):
    """Gap-session log2 (duration, length) histogram — the
    engagement-shape dashboard above per-session rows."""
    m = _module(events.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(events, m.sessionStats(events._jdf, user_col, ts_col,
                                        int(gap_sec)))


def ab_lift(events, user_col, type_col, conv_type, arm_pct=50):
    """Deterministic md5-bucket A/B assignment + per-arm conversion rate
    and micro-quantized lift vs arm A."""
    m = _module(events.sparkSession, "graft.operators.EventAnalytics$")
    return _wrap(events, m.abLift(events._jdf, user_col, type_col,
                                  conv_type, int(arm_pct)))


def chi2_terms(df, group_col, text_col, k):
    """Top-k chi-square discriminative terms per group (staged-integer
    chi2_milli, stopword prune, sparse presence semantics)."""
    m = _module(df.sparkSession, "graft.operators.CorpusStats$")
    return _wrap(df, m.chi2Terms(df._jdf, group_col, text_col, int(k)))


def jaccard_pairs(df, id_col, text_col, tau_milli, shingle=1):
    """EXACT Jaccard >= tau/1000 set-similarity self-join via prefix
    filtering (PPJoin family): zero missed pairs, candidates bounded by
    rare-element buckets. shingle > 1 joins on word n-gram shingle sets
    (the production choice for low-vocabulary corpora)."""
    m = _module(df.sparkSession, "graft.dedup.PrefixFilterJoin$")
    return _wrap(df, m.jaccardPairs(df._jdf, id_col, text_col,
                                    int(tau_milli), int(shingle)))


def bpe_fertility(docs, group_cols, text_col, words):
    """Per-group tokenizer fertility (BPE tokens/word, milli) and
    compression (chars/token, milli) under a trained word table — the
    tokenizer-evaluation dashboard. `words` is BpeTrainer.train's word
    table (w, cnt, toks)."""
    m = _module(docs.sparkSession, "graft.text.BpeTrainer$")
    return _wrap(docs, m.fertility(docs._jdf, _str_seq(docs, group_cols),
                                   text_col, words._jdf))


def silhouette(corpus, id_col, vec_col, k, iters=3):
    """Per-cell simplified (centroid) silhouette of the deterministic
    Lloyd quantizer, micro-quantized: the cluster-quality gate before any
    IVF/SemDeDup stage trusts the space."""
    m = _module(corpus.sparkSession, "graft.sim.Similarity$")
    return _wrap(corpus, m.silhouette(corpus._jdf, id_col, vec_col,
                                      int(k), int(iters)))


def pca_top(corpus, vec_col, dim, iters=8):
    """Top principal component (all-but-the-top anisotropy axis): bounded
    covariance aggregation + BigInt fixed-point power iteration; lambda_c /
    trace_c = variance fraction the dominant direction hoards."""
    m = _module(corpus.sparkSession, "graft.sim.Pca$")
    return _wrap(corpus, m.topComponent(corpus._jdf, vec_col,
                                        int(dim), int(iters)))


def auc_by_group(df, group_col, label_col, score_col):
    """Exact per-group ROC-AUC (integer Mann-Whitney rank sums, ties
    averaged) of a score column against a binary label - the quality-gate
    classifier evaluation. Single-class groups are dropped."""
    m = _module(df.sparkSession, "graft.text.TextClassifiers$")
    return _wrap(df, m.aucByGroup(df._jdf, group_col, label_col, score_col))


def neyman_allocation(df, stratum_col, metric_col, total_target):
    """Neyman-optimal eval-set quotas per stratum (minimum-variance
    stratified allocation by N_h * S_h), largest-remainder rounded so the
    quotas sum EXACTLY to total_target."""
    m = _module(df.sparkSession, "graft.operators.DatasetSplit$")
    return _wrap(df, m.neymanAllocation(df._jdf, stratum_col, metric_col,
                                        int(total_target)))


def sample_to_quotas(df, stratum_col, id_col, quotas, quota_col="alloc"):
    """Draw the rows an allocation prescribes: deterministic
    bottom-quota-by-md5 per stratum (quotas e.g. from neyman_allocation).
    Adds a sample_rank column."""
    m = _module(df.sparkSession, "graft.operators.DatasetSplit$")
    return _wrap(df, m.sampleToQuotas(df._jdf, stratum_col, id_col,
                                      quotas._jdf, quota_col))


def pca_project(corpus, group_col, vec_col, dim, iters=8):
    """Per-group projection-mass profile along the top component (the
    apply half of all-but-the-top): exact-integer projections, one scan +
    one group agg."""
    m = _module(corpus.sparkSession, "graft.sim.Pca$")
    return _wrap(corpus, m.projectProfile(corpus._jdf, group_col, vec_col,
                                          int(dim), int(iters)))


# -------------------------------------------------- round-11 wrappers

def _active_session():
    """Resolve the active SparkSession for column-level wrappers (which have
    no DataFrame to derive it from). getActiveSession() can return None on a
    non-driver thread — fall back to the default session, and fail with a
    clear message instead of an opaque AttributeError on the jvm handle."""
    from pyspark.sql import SparkSession as _S
    spark = _S.getActiveSession()
    if spark is None:
        spark = _S._instantiatedSession
    if spark is None:
        raise RuntimeError(
            "no active SparkSession: create one before calling graft "
            "column functions (SparkSession.builder.getOrCreate())")
    return spark


def nfc_normalize(col):
    """Column -> Column: NFC canonicalization (UAX #15) via the codegen'd
    kernel — the multilingual dedup pre-step (NFD combining-mark variants
    fold onto one byte sequence before hashing)."""
    from pyspark.sql.column import Column as _PyCol
    m = _module(_active_session(), "graft.text.UnicodeText$")
    return _PyCol(m.nfc(col._jc))


def script_counts(col):
    """Column -> Column: per-script codepoint histogram (array<long> over
    the fixed 10-bucket codepoint-range table: digit, latn, grek, cyrl,
    hebr, arab, deva, kana, hani, hang)."""
    from pyspark.sql.column import Column as _PyCol
    m = _module(_active_session(), "graft.text.UnicodeText$")
    return _PyCol(m.scriptCounts(col._jc))


def dominant_script(counts_col):
    """Column -> Column: deterministic dominant-script argmax over a
    script_counts histogram ('und' when no letter bucket is hit)."""
    from pyspark.sql.column import Column as _PyCol
    m = _module(_active_session(), "graft.text.UnicodeText$")
    return _PyCol(m.dominantScript(counts_col._jc))


def u_tokens(col):
    """Column -> Column: case-preserving Unicode-category tokens (maximal
    \\p{L}\\p{M}\\p{N} runs; marks stay inside abugida words). Han/Kana
    codepoints are split into single-codepoint tokens (scriptio continua
    has no word separators), with the combining kana voicing marks
    U+3099/309A kept attached to their base kana."""
    from pyspark.sql.column import Column as _PyCol
    m = _module(_active_session(), "graft.text.UnicodeText$")
    return _PyCol(m.uTokens(col._jc))


def fuzzy_pairs_indel(df, id_col, text_col, prefix_len=32, max_dist=3,
                      max_block=64):
    """Indel-complete blocked entity resolution: guaranteed recall for
    <= max_dist edits INCLUDING insertions/deletions (PassJoin segment x
    shifted-window blocking), df-capped blocks, exact levenshtein verify."""
    m = _module(df.sparkSession, "graft.operators.FuzzyJoin$")
    return _wrap(df, m.editDistancePairsIndel(df._jdf, id_col, text_col,
                                              int(prefix_len), int(max_dist),
                                              int(max_block)))


def ann_incremental(history, batch, id_col, vec_col, qid_col, qvec_col,
                    k=10, nprobe=2, num_centroids=32, iters=2):
    """Incremental ANN in one call: train the coarse quantizer on history,
    materialize the cell index, probe the batch stream-static (bounded
    query sets; for ingest-scale batches use ann_incremental_kscaled)."""
    m = _module(history.sparkSession, "graft.sim.Similarity$")
    cents = m.ivfTrainKMeans(history._jdf, id_col, vec_col,
                             int(num_centroids), int(iters), False)
    index = m.ivfIndex(cents, history._jdf, id_col, vec_col, False)
    return _wrap(history, m.ivfProbeIndex(cents, index, batch._jdf,
                                          id_col, qid_col, qvec_col,
                                          int(k), int(nprobe), 6))


def ann_incremental_kscaled(history, batch, id_col, vec_col, qid_col,
                            qvec_col, k=10, num_centroids=1024, iters=2):
    """The k-proportional-to-N ANN regime: hierarchical O(sqrt k) routing
    on BOTH sides, co-partitioned probe join — 3.8x wall at 100x data in
    the soak where the fixed-k path measured 126x. Size num_centroids so
    per-cell occupancy stays roughly constant (e.g. N/64)."""
    m = _module(history.sparkSession, "graft.sim.Similarity$")
    cents = m.ivfTrainKMeans(history._jdf, id_col, vec_col,
                             int(num_centroids), int(iters), True)
    index = m.ivfIndex(cents, history._jdf, id_col, vec_col, True)
    return _wrap(history, m.ivfProbeIndexHier(cents, index, batch._jdf,
                                              id_col, qid_col, qvec_col,
                                              int(k), 6))
