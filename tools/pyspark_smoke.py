#!/usr/bin/env python3
"""Smoke-test the python/graft py4j wrapper package: drive the compiled graft
estimators from PySpark through the wrappers (no raw spark._jvm in user code)
and assert they produce correct estimates. Driver-side tooling (like
local_verify.py) — the library itself stays Scala-only.

Usage: python3 tools/pyspark_smoke.py <sf-dir>

<sf-dir> is a test-data directory holding embeddings.parquet (the ANN
sections read it); without the argument, $SPARK_GRAFT_SF_DIR.
"""
import glob
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CLASSES = os.path.join(HERE, "..", "target", "scala-2.13", "classes")
if not glob.glob(os.path.join(CLASSES, "graft", "filter", "LinearKalmanFilter*.class")):
    sys.exit("compile first: sbt compile")
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("SPARK_GRAFT_SF_DIR")
if not SF_DIR:
    sys.exit("usage: python3 tools/pyspark_smoke.py <sf-dir with embeddings.parquet>")

# Prefer the INSTALLED package (python/setup.py: `python3 setup.py develop
# --user`, or `pip install -e python/ --no-build-isolation` where the wheel
# package is available) — the smoke test then exercises exactly what a user
# gets from pip. Falls back to the in-repo path with a loud warning so the
# script still works on a fresh checkout.
try:
    import graft  # noqa: F401 — probe for an installed package
except ImportError:
    sys.stderr.write(
        "[smoke] WARNING: graft python package not installed; falling back "
        "to in-repo python/ path. Install it: cd python && "
        "python3 setup.py develop --user\n")
    sys.path.insert(0, os.path.join(HERE, "..", "python"))

from pyspark.sql import SparkSession, functions as F

from graft import (LinearKalmanFilter, RecursiveLeastSquaresFilter,
                   MultivariateGaussianMixture, Mat)

spark = (SparkSession.builder.master("local[4]")
         .config("spark.driver.extraClassPath", os.path.abspath(CLASSES))
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .appName("graft-pyspark-smoke").getOrCreate())
spark.sparkContext.setLogLevel("WARN")

# ---------------------------------------------------------------- LKF wrapper

df = spark.createDataFrame(
    [(k, i, float(i) + k) for k in range(3) for i in range(20)],
    "key int, idx int, z double"
).select(
    F.col("key").cast("string").alias("key"),
    F.timestamp_seconds(F.lit(1700000000) + F.col("idx") * 60).alias("ts"),
    F.array(F.col("z")).alias("meas"))

lkf = (LinearKalmanFilter(spark, 1, 1)
       .setStateKeyCol("key").setEventTimeCol("ts").setMeasurementCol("meas")
       .setInitialStateCovariance(Mat([[10.0]]))
       .setProcessNoise(Mat([[1.0]]))
       .setMeasurementNoise(Mat([[4.0]])))

rows = (lkf.transform(df).groupBy("key")
        .agg(F.max("stateIndex").alias("n"),
             F.max_by(F.col("stateMean")[0], F.col("stateIndex")).alias("level"))
        .orderBy("key").collect())
assert len(rows) == 3, rows
for r in rows:
    assert r.n == 20, r
    # local-level filter tracking z = idx + key converges near the tail value
    expect = 19.0 + int(r.key)
    assert abs(r.level - expect) < 2.5, (r, expect)
print("PASS LKF:", [(r.key, r.n, round(r.level, 2)) for r in rows])

# ---------------------------------------------------------------- RLS wrapper

rls_df = spark.createDataFrame(
    [("k", i, [1.0, float(i)], 1.0 + 2.0 * i) for i in range(1, 31)],
    "key string, idx int, features array<double>, label double"
).select("key", F.timestamp_seconds(F.lit(1700000000) + F.col("idx") * 60).alias("t"),
         "features", "label")

rls = (RecursiveLeastSquaresFilter(spark, 2)
       .setStateKeyCol("key").setEventTimeCol("t")
       .setFeaturesCol("features").setLabelCol("label")
       .setForgettingFactor(0.99))
last = (rls.transform(rls_df)
        .orderBy(F.col("stateIndex").desc()).limit(1)
        .select(F.col("stateMean")[0].alias("b"), F.col("stateMean")[1].alias("w"))
        .collect()[0])
# label = 1 + 2*idx: intercept ~1, slope ~2
assert abs(last.b - 1.0) < 0.2 and abs(last.w - 2.0) < 0.02, last
print("PASS RLS: intercept=%.3f slope=%.3f" % (last.b, last.w))

# ---------------------------------------------------------------- GMM wrapper

import random
random.seed(11)
gmm_rows = [("k", i, [3.0 + random.gauss(0, 1) if i % 2 == 0 else 20.0 + random.gauss(0, 1)])
            for i in range(1, 121)]
gmm_df = spark.createDataFrame(gmm_rows, "key string, idx int, sample array<double>") \
    .select("key", F.timestamp_seconds(F.lit(1700000000) + F.col("idx") * 60).alias("t"), "sample")

gmm = (MultivariateGaussianMixture(spark, 2, 1)
       .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("sample")
       .setStepSize(0.1).setMinibatchSize(10)
       .setInitialMeans([[0.0], [10.0]])
       .setInitialCovariances([[10.0], [10.0]]))
m = (gmm.transform(gmm_df)
     .orderBy(F.col("stateIndex").desc()).limit(1)
     .select(F.col("params")[0][0].alias("m0"), F.col("params")[1][0].alias("m1"))
     .collect()[0])
lo, hi = sorted([m.m0, m.m1])
# online EM with stepSize 0.1 is still converging after 120 samples — assert
# the components separated decisively toward the true modes (3 and 20), not
# final convergence
assert 0.0 < lo < 7.0 and hi > 12.0, m
print("PASS GMM: means=%.2f / %.2f (true modes 3 / 20)" % (lo, hi))

print("PASS: all graft py4j wrappers (LKF, RLS, GMM) driven from PySpark")

# ------------------------------------------------- pipeline operator wrappers

from graft import (with_split, stratified_sample, top_ngrams, surprisal,
                   dedup_pipeline, curation_funnel, sem_dedup, with_shard)

docs = spark.createDataFrame(
    [(i, " ".join("tok%03d" % ((i * 37 + j) % 120) for j in range(60)),
      "en" if i % 2 == 0 else "de") for i in range(40)] +
    [(1000 + i, " ".join("tok%03d" % ((i * 37 + j) % 120) for j in range(55)),
      "en") for i in range(3)],  # near-dups of docs 0-2 (shared 55-token prefix)
    "doc_id long, text string, lang string"
).withColumn("n_chars", F.length("text").cast("long"))

sp = with_split(docs, "doc_id").groupBy("split").count().collect()
assert {r["split"] for r in sp} <= {"train", "val", "test"} and sum(r["count"] for r in sp) == 43
print("PASS with_split:", sorted((r["split"], r["count"]) for r in sp))

st = stratified_sample(docs, "doc_id", "lang", 10)
assert 0 < st.count() <= 43
tn = top_ngrams(docs, "doc_id", "text", 2, 5).collect()
assert len(tn) == 5 and tn[0]["n_occurrences"] >= tn[-1]["n_occurrences"]
su = surprisal(docs, "doc_id", "text")
assert su.count() == 43
print("PASS stratified_sample/top_ngrams/surprisal")

dp = dedup_pipeline(docs, "doc_id", "text", 0.4)
groups = {r["canonical_id"]: r["n_members"] for r in dp.collect()}
assert any(n >= 2 for n in groups.values()), groups  # the injected near-dups fold
fu = curation_funnel(docs, docs.limit(0), "doc_id", "text", "n_chars",
                     200, 30, 10000, 30)
stages = {r["stage"]: r["n_docs"] for r in fu.collect()}
assert stages[0] == 43 and all(stages[k] <= stages[k - 1] for k in range(1, 5))
print("PASS dedup_pipeline/curation_funnel:", stages)

emb = spark.createDataFrame(
    [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(30)] +
    [(100 + i, [float((i * 7 + d) % 13) + 0.001 for d in range(8)]) for i in range(3)],
    "vec_id long, embedding array<float>")
sd = sem_dedup(emb, "vec_id", "embedding", 4, 1, 0.999, 6, False)
removed = sd.where("removed").count()
assert removed >= 3, removed  # the three injected twins collapse
sh = with_shard(docs, "doc_id", "n_chars", ["lang"], 2000)
assert sh.groupBy("lang", "shard").count().count() > 2
print("PASS sem_dedup/with_shard (removed=%d)" % removed)

print("PASS: pipeline operator wrappers (split/sample/ngrams/surprisal/dedup/funnel/semdedup/shards)")

# -------------------------------------------------- round-5 wave-3 wrappers

from graft import sample_proportional, percentiles_disc, gopher_flags, range_join

ws = sample_proportional(docs, "doc_id", "n_chars", 200)
assert 0 < ws.count() <= docs.count()
pc = percentiles_disc(docs, "lang", "n_chars", "doc_id", [0, 50, 100]).collect()
assert len(pc) == 6 and all(r["q"] in (0, 50, 100) for r in pc)
gf = gopher_flags(docs, "doc_id", "text")
assert gf.where("pass_all").count() >= 0 and "r_words" in gf.columns
ivs = spark.createDataFrame([(1, 0, 100), (2, 50, 150)], "iv long, s long, e long")
pts2 = spark.createDataFrame([(i,) for i in range(0, 200, 10)], "t long")
rj = range_join(pts2, ivs, "t", "s", "e", 64)
assert rj.count() == 11 + 11  # 0..100 by 10 in iv1, 50..150 by 10 in iv2
print("PASS sample_proportional/percentiles_disc/gopher_flags/range_join")

# -------------------------------------------------- round-5 wave-4 wrappers

from graft import substring_profile, redact_pii, tfidf_top, quantize_int8

docs2 = spark.createDataFrame(
    [(1, "the shared boilerplate paragraph appears here padded for width " * 2),
     (2, "prefix " + "the shared boilerplate paragraph appears here padded for width " * 2),
     (3, "completely unique content in this row that matches nothing else at all ever")],
    "doc_id long, text string")
sp = substring_profile(docs2, "doc_id", "text", 40, 10)
rep = {r["doc_id"]: r["n_repeated"] for r in sp.collect()}
assert rep.get(1, 0) > 0 and rep.get(2, 0) > 0 and rep.get(3, 0) == 0, rep

red = docs2.select(redact_pii(F.concat(F.col("text"), F.lit(" a@b.com 12345678"))).alias("r"))
row = red.first()["r"]
assert "<EMAIL>" in row and "<ID>" in row and "a@b.com" not in row

tt = tfidf_top(docs2, "doc_id", "text", 2)
assert tt.count() == 6 and set(tt.columns) == {"doc_id", "rk", "tok", "tf", "score"}

emb2 = spark.createDataFrame([(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])],
                             "vec_id long, embedding array<float>")
q = quantize_int8(emb2, "embedding")
qr = {r["vec_id"]: r["qvec"] for r in q.collect()}
assert qr[1] == [64, -127, 32] or qr[1] == [64, -127, 32], qr
assert qr[2] == [0, 0, 0]
print("PASS substring_profile/redact_pii/tfidf_top/quantize_int8")

# -------------------------------------------------- round-6 wrappers

from graft import normalize_text, bigram_surprisal, knn_graph, pq_search

docs3 = spark.createDataFrame(
    [(1, "  Hello   WORLD!!!  "), (2, "hello world!"),
     (3, "go north go north go north go north")],
    "doc_id long, text string")
nn = docs3.select("doc_id", normalize_text(F.col("text")).alias("n")).collect()
nmap = {r["doc_id"]: r["n"] for r in nn}
assert nmap[1] == nmap[2] == "hello world!", nmap

bs = bigram_surprisal(docs3, "doc_id", "text")
bm = {r["doc_id"]: (r["n_bigrams"], r["sum_bits"]) for r in bs.collect()}
assert bm[1] == (1, 0) and bm[3][0] == 7, bm

emb3 = spark.createDataFrame(
    [(i, [1.0 + 0.01 * i + 0.001 * d for d in range(8)]) for i in range(6)],
    "vec_id long, embedding array<float>")
kg = knn_graph(emb3, "vec_id", "embedding", 2, 3, 8)
assert kg.count() > 0 and set(kg.columns) == {"src", "rank", "nbr", "sim"}

qs3 = emb3.where("vec_id < 2").selectExpr("vec_id AS qid", "embedding AS qv")
pq = pq_search(emb3, qs3, "vec_id", "embedding", "qid", "qv", 8, 2, 3, 1, 3, 5)
assert pq.count() == 6 and set(pq.columns) == {"qid", "vec_id", "sim", "rank"}
print("PASS normalize_text/bigram_surprisal/knn_graph/pq_search")

from graft import contamination_attribution, ivfpq_search
ca = contamination_attribution(docs3, docs3.where("doc_id = 3"), "doc_id", "text", 2)
assert ca.count() >= 1  # doc 3 shares its own 2-grams

emb4 = spark.createDataFrame(
    [(i, [float((i * 3 + d) % 7) + 0.01 * i for d in range(8)]) for i in range(40)],
    "vec_id long, embedding array<float>")
qs4 = emb4.where("vec_id < 2").selectExpr("vec_id AS qid", "embedding AS qv")
ipq = ivfpq_search(emb4, qs4, "vec_id", "embedding", "qid", "qv", 8,
                   k_coarse=4, m_sub=2, codes=4, iters=1, k=3, nprobe=2, shortlist=10)
assert ipq.count() > 0 and set(ipq.columns) == {"qid", "vec_id", "sim", "rank"}
print("PASS ivfpq_search")

from graft import nb_train, nb_score, dsir_weights, shuffle_shards
docs5 = spark.createDataFrame(
    [(1, "alpha beta alpha", 1), (2, "alpha beta beta", 1),
     (3, "gamma delta gamma", 0), (4, "delta gamma delta", 0)],
    "doc_id long, text string, y long")
nbm = nb_train(docs5, "text", "y")
nbs = {r["doc_id"]: r["pred"] for r in nb_score(docs5, "doc_id", "text", "y", nbm).collect()}
assert nbs == {1: 1, 2: 1, 3: 0, 4: 0}, nbs
dw = dsir_weights(docs5, "doc_id", "text", "y", 64)
assert set(dw.columns) == {"doc_id", "n_grams", "weight", "keep"}
sh = shuffle_shards(docs5.select("doc_id"), "doc_id", 2, 2)
assert sh.count() == 8 and sh.select("epoch", "doc_id").distinct().count() == 8
print("PASS nb_train/nb_score/dsir_weights/shuffle_shards")

from graft import upsample_to_allocation, interleave
alloc5 = spark.createDataFrame([("x", 6), ("y", 2)], "source string, alloc long")
docs6 = spark.createDataFrame([("x", i) for i in range(3)] + [("y", 10 + i) for i in range(4)],
                              "source string, doc_id long")
ups5 = upsample_to_allocation(docs6, "doc_id", "source", alloc5)
assert {r["source"]: r["count"] for r in ups5.groupBy("source").count().collect()} == {"x": 6, "y": 2}
il5 = interleave(ups5, "doc_id", "source")
assert il5.count() == 8 and set(il5.columns) == {"pos_key", "source", "doc_id", "copy", "rank_in_group"}
print("PASS upsample_to_allocation/interleave")

from graft import token_drift
dr = spark.createDataFrame([(0, "same gone gone"), (1, "same new new")], "side long, text string")
td = {r["token"]: r["drift_scaled"] for r in token_drift(dr, "text", "side", 5).collect()}
assert td["same"] == 0 and td["gone"] == td["new"] > 0, td
print("PASS token_drift")

from graft import bottom_k_sample
bk = bottom_k_sample(docs6, "source", "doc_id", 2)
assert bk.groupBy("source").count().where("count > 2").count() == 0
print("PASS bottom_k_sample")

from graft import audio_fingerprint, perceptual_hash
from graft import *  # Multimodal builders are Scala-side; use the jvm path via wrappers only
docs7 = spark.createDataFrame([(1, "ab" + "cdefghij" * 17 + "kk")], "doc_id long, text string")
# payload builders aren't wrapped; drive them via the query surface instead:
import py4j
jvm_mm = spark._jvm.graft.multimodal.__getattr__("Multimodal$").__getattr__("MODULE$")
wimg = jvm_mm.withImagePayload(docs7._jdf, "text")
from pyspark.sql import DataFrame as _DF
wimg_df = _DF(wimg, spark)
ph = perceptual_hash(wimg_df, "doc_id", "payload")
assert ph.count() == 1 and set(ph.columns) == {"doc_id", "phash"}
waud = _DF(jvm_mm.withAudioPayload(docs7._jdf, "text"), spark)
af = audio_fingerprint(waud, "doc_id", "payload")
assert af.count() == 1 and set(af.columns) == {"doc_id", "afp"}
print("PASS perceptual_hash/audio_fingerprint")

from graft import chunk_documents
ck = chunk_documents(docs, "doc_id", "text", 20, 15)
assert ck.count() > 0 and set(ck.columns) == {"doc_id", "chunk_idx", "n_chunk_toks", "chunk_hash"}
print("PASS chunk_documents")
spark.stop()

# round 7: assembly wave wrappers — restart a minimal session for the tail
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
docs8 = spark.createDataFrame(
    [(i, i % 3, (i % 7) + 1) for i in range(60)], "doc_id long, level long, n_toks long")

from graft import curriculum
cu = curriculum(docs8, "doc_id", "level", 4)
assert cu.count() == 60 and set(cu.columns) == {"level", "shard", "doc_id", "pos"}
print("PASS curriculum")

from graft import length_bucket_batches
lb = length_bucket_batches(docs8, "doc_id", "n_toks", 8)
assert lb.count() == 60 and set(lb.columns) == {"bucket", "batch", "doc_id", "weight"}
print("PASS length_bucket_batches")

from graft import budget_allocation
sizes = docs8.groupBy("level").sum("n_toks").withColumnRenamed("sum(n_toks)", "n")
ba = budget_allocation(sizes, "level", "n", 1000, 4)
assert ba.count() == 3 and "shortfall" in ba.columns and "epochs_micro" in ba.columns
print("PASS budget_allocation")
spark.stop()

# round 8: event analytics, containment, subword tokenizer wrappers
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").config("spark.ui.enabled", "false").getOrCreate()

ev = spark.createDataFrame(
    [("u1", "signup", 1000), ("u1", "view", 2000), ("u1", "click", 3000),
     ("u2", "view", 1500), ("u2", "signup", 2500),
     ("u3", "signup", 100)],
    "user_id string, event_type string, ms long") \
    .selectExpr("user_id", "event_type", "timestamp_millis(ms) AS ts")

from graft import funnel, retention
fu = funnel(ev, "user_id", "event_type", "ts", ["signup", "view", "click"])
row = fu.collect()[0]
assert row["n_users"] == 3 and row["reached_1"] == 3 and row["reached_2"] == 1 \
    and row["reached_3"] == 1, row
print("PASS funnel")

re_ = retention(ev, "user_id", "ts")
assert re_.count() >= 1 and set(re_.columns) == {"cohort_week", "week_offset", "n_users"}
print("PASS retention")

docs9 = spark.createDataFrame(
    [(1, "the quick brown fox jumps over the lazy dog"),
     (2, "the quick brown fox jumps over the lazy dog again and again"),
     (3, "pack my box with five dozen liquor jugs"),
     (4, "completely unrelated content that shares nothing with before")],
    "doc_id long, text string")

from graft import containment_pairs
cp = containment_pairs(
    docs9.unionAll(docs9.selectExpr("doc_id + 100 AS doc_id", "substring(text, 1, 28) AS text")),
    "doc_id", "text", 2, 8, 2, 0.8)
assert set(cp.columns) == {"a", "b", "n_shared", "containment"}
print("PASS containment_pairs:", cp.count(), "pairs")

from graft import train_subword_vocab, subword_token_counts
vocab = train_subword_vocab(docs9, "text", 4, 64, 2)
assert set(vocab.columns) == {"gram", "cnt"} and vocab.count() > 0
sc = subword_token_counts(docs9, "text", vocab, 4, "n_subwords")
rows = {r["doc_id"]: r["n_subwords"] for r in sc.collect()}
assert all(v > 0 for v in rows.values()), rows
print("PASS subword tokenizer:", vocab.count(), "grams")
spark.stop()
print("PASS: round-8 wrappers (funnel/retention/containment/subword)")

# round 8 wave 2: semantic decontamination, windowed funnel, BPE, near-dup split
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").config("spark.ui.enabled", "false").getOrCreate()

emb = spark.createDataFrame(
    [(i, [float(i), 1.0, 0.0], i % 2) for i in range(20)] +
    [(100, [5.0, 1.0, 0.0], 0)],  # exact direction of vec 5 -> cosine 1.0
    "vec_id long, embedding array<float>, label long")

from graft import semantic_decontaminate
sd = semantic_decontaminate(emb.where("vec_id >= 20"), emb.where("vec_id < 20"),
                            "vec_id", "embedding", "vec_id", "embedding", 0.999)
hits = {r["vec_id"]: r["eval_id"] for r in sd.collect()}
assert hits.get(100) == 5, hits
print("PASS semantic_decontaminate")

ev2 = spark.createDataFrame(
    [("u1", "signup", 0), ("u1", "view", 3600),
     ("u2", "signup", 0), ("u2", "view", 2000000)],  # > 7 days later? no: 2e6 s ~ 23 days
    "user_id string, event_type string, s long") \
    .selectExpr("user_id", "event_type", "timestamp_seconds(s) AS ts")

from graft import funnel_windowed, time_to_convert
fw = funnel_windowed(ev2, "user_id", "event_type", "ts", ["signup", "view"], 604800).collect()[0]
assert fw["reached_1"] == 2 and fw["reached_2"] == 1, fw
print("PASS funnel_windowed")

ev3 = spark.createDataFrame(
    [("u1", "signup", 0), ("u1", "purchase", 7200)],
    "user_id string, event_type string, s long") \
    .selectExpr("user_id", "event_type", "timestamp_seconds(s) AS ts")
tc = time_to_convert(ev3, "user_id", "event_type", "ts", "signup", "purchase").collect()
assert len(tc) == 1 and tc[0]["n_users"] == 1 and tc[0]["min_hours"] == 2, tc
print("PASS time_to_convert")

from graft import bpe_train, bpe_segment_counts
docs10 = spark.createDataFrame([("banana banana banana bandana",)], "text string")
merges, words = bpe_train(docs10, "text", 2, 2)
assert merges[0][1] == "a" and merges[0][2] == "n", merges
seg = bpe_segment_counts(
    spark.createDataFrame([(1, "banana bandana")], "doc_id long, text string"),
    "doc_id", "text", words)
assert seg.collect()[0]["n_words"] == 2
print("PASS bpe_train/bpe_segment_counts:", merges)

from graft import near_dup_safe_split
base_docs = spark.createDataFrame(
    [(i, ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4) + f"tail{i} " * 6)
     for i in range(8)], "doc_id long, text string")
corpus10 = base_docs.unionAll(
    base_docs.selectExpr("doc_id + 1000 AS doc_id", "substring(text, 1, length(text) - 20) AS text"))
nds = near_dup_safe_split(corpus10, "doc_id", "text", 0.4)
leak = nds.groupBy("canonical_id").agg({"split": "count"}) \
    .join(nds.select("canonical_id", "split").distinct()
             .groupBy("canonical_id").count().where("count > 1"), "canonical_id", "inner")
assert leak.count() == 0, "a near-dup component crossed splits"
print("PASS near_dup_safe_split")

# round 8 wave 3: transitions, top paths, blocklist, moments
from graft import transitions, top_paths, blocklist_counts, moments

ev3 = spark.createDataFrame(
    [("u1", 1, 1000, "a"), ("u1", 2, 2000, "b"), ("u1", 3, 3000, "a"),
     ("u2", 4, 1500, "b"), ("u2", 5, 2500, "b")],
    "user_id string, event_id long, ms long, event_type string") \
    .selectExpr("user_id", "event_id", "event_type", "timestamp_millis(ms) AS ts")
tr = {(r["from_type"], r["to_type"]): (r["n"], r["prob_micro"])
      for r in transitions(ev3, "user_id", "event_type", "ts", "event_id").collect()}
assert tr[("a", "b")] == (1, 1000000) and tr[("b", "a")] == (1, 500000) \
    and tr[("b", "b")] == (1, 500000), tr
print("PASS transitions")

tp = top_paths(ev3, "user_id", "event_type", "ts", "event_id", 2, 5).collect()
assert [(r["path"], r["n_users"]) for r in tp] == [("a>b", 1), ("b>b", 1)], tp
print("PASS top_paths")

bl = blocklist_counts(
    spark.createDataFrame([(1, "onion station"), (2, "nothing")],
                          "doc_id long, text string"),
    "text", ["on", "ion"]).collect()
bl = {r["doc_id"]: list(r["counts"]) for r in bl}
assert bl[1] == [3, 2] and bl[2] == [0, 0], bl
print("PASS blocklist_counts")

mo = moments(spark.createDataFrame([("s", 2), ("s", 4), ("s", 6)],
                                   "src string, len long"), "src", "len").collect()[0]
assert (mo["n"], mo["s1"], mo["s2"], mo["mean_micro"], mo["var_micro"]) \
    == (3, 12, 56, 4000000, 2666666), mo
print("PASS moments")

from graft import pagerank_top
pr = pagerank_top(
    spark.createDataFrame([(1,), (2,), (3,)], "id long"),
    spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "s long, d long"),
    "id", "s", "d", 2, 3)
pr = {r["id"]: r["rank_micro"] for r in pr.collect()}
# replay: r1 = {1: 1850000, 2: 1000000, 3: 150000}
#         r2 = {1: 150000+850000*1150000//1e6, 2: 150000+850000*1850000//1e6, 3: 150000}
assert pr == {1: 1127500, 2: 1722500, 3: 150000}, pr
print("PASS pagerank_top")

from graft import k_centers
kc = k_centers(
    spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.6, 0.8])],
                          "id long, v array<double>"),
    "id", "v", 3)
kc = [(r["rank"], r["id"], r["sel_sim"]) for r in kc.collect()]
assert kc == [(1, 1, 1.0), (2, 2, 0.0), (3, 3, 0.8)], kc
print("PASS k_centers")

# round 8 wave 6: attribution, RFM, PMI, char entropy, n-gram diversity
from graft import (attribution, rfm_segments, pmi_collocations, char_entropy,
                   ngram_diversity)

ev6 = spark.createDataFrame(
    [("u1", 1, 1000, "ad"), ("u1", 2, 2000, "email"),
     ("u1", 3, 3000, "purchase"), ("u1", 4, 4000, "ad"),
     ("u2", 5, 1000, "email"), ("u2", 6, 2000, "ad"),
     ("u2", 7, 3000, "purchase"),
     ("u3", 8, 1000, "ad")],
    "user_id string, event_id long, ms long, event_type string") \
    .selectExpr("user_id", "event_id", "event_type", "timestamp_millis(ms) AS ts")
at = {r["event_type"]: (r["first_touch_users"], r["last_touch_users"])
      for r in attribution(ev6, "user_id", "event_type", "ts", "event_id",
                           "purchase").collect()}
# u1: first=ad last=email; u2: first=email last=ad; u3 never converts
assert at == {"ad": (1, 1), "email": (1, 1)}, at
print("PASS attribution")

rf = rfm_segments(
    spark.createDataFrame(
        [("A", "2024-01-01", 10.00), ("B", "2024-01-10", 12.00),
         ("B", "2024-01-11", 8.00)],
        "cust string, d string, amt double").selectExpr(
            "cust", "CAST(d AS DATE) AS d", "amt"),
    "cust", "d", "amt").collect()
rf = [(r["r_bucket"], r["f_bucket"], r["m_bucket"], r["n_customers"],
       float(r["total_monetary"]), r["max_freq"]) for r in rf]
# B: recency 0+1 -> bucket 1, freq 2 -> 2, floor(20)+1=21 -> 5
# A: recency 10+1=11 -> 4, freq 1 -> 1, floor(10)+1=11 -> 4
assert rf == [(1, 2, 5, 1, 20.0, 2), (4, 1, 4, 1, 10.0, 1)], rf
print("PASS rfm_segments")

pm = pmi_collocations(
    spark.createDataFrame([(1, "x y x y"), (2, "x y")],
                          "doc_id long, text string"),
    "doc_id", "text", 2, 5).collect()
# tu=6, tb=4; "x y": c2=3 cw1=cw2=3 -> ((3*6//3)*6//3)*1e6//4 = 3_000_000
assert [(r["bigram"], r["n"], r["lift_micro"]) for r in pm] \
    == [("x y", 3, 3000000)], pm
print("PASS pmi_collocations")

ce = char_entropy(
    spark.createDataFrame([(1, "aabb"), (2, "aaaa")],
                          "doc_id long, text string"),
    "doc_id", "text").orderBy("doc_id").collect()
assert [(r["doc_id"], r["n_alnum"], r["ent_milli"]) for r in ce] \
    == [(1, 4, 1000), (2, 4, 0)], ce
print("PASS char_entropy")

nd = ngram_diversity(
    spark.createDataFrame([("s", "a b a b")], "src string, text string"),
    "src", "text").collect()
assert [(r["n"], r["total"], r["n_distinct"], r["ttr_milli"]) for r in nd] \
    == [(1, 4, 2, 500), (2, 3, 2, 666), (3, 2, 2, 1000)], nd
print("PASS ngram_diversity")

# round 8 wave 7: oov rate, zipf, readability, prefix clusters,
# daily anomalies, session stats, a/b lift
from graft import (oov_rate, zipf_profile, readability, prefix_clusters,
                   daily_anomalies, session_stats, ab_lift)

docs7 = spark.createDataFrame(
    [("A", 1, "the the cat cat dog"), ("B", 2, "the the cat dog zebra")],
    "src string, doc_id long, text string")
ov = {r["src"]: (r["oov_tokens"], r["oov_permille"])
      for r in oov_rate(docs7, "src", "text", 2).collect()}
# top-2 vocab (count desc, tok asc) = {cat, the}
assert ov == {"A": (1, 200), "B": (2, 400)}, ov
print("PASS oov_rate")

zp = zipf_profile(
    spark.createDataFrame([(1, "a a a a b b c")], "doc_id long, text string"),
    "text", 8).collect()
assert [(r["rank"], r["term"], r["freq"], r["freq_bits"]) for r in zp]     == [(1, "a", 4, 2), (2, "b", 2, 1)], zp
print("PASS zipf_profile")

rd = readability(
    spark.createDataFrame([(1, "Hello world.")], "doc_id long, text string"),
    "doc_id", "text").collect()
assert [(r["words"], r["sentences"], r["syllables"], r["flesch_milli"])
        for r in rd] == [(2, 1, 3, 206835 - 1015 * 2 - 84600 * 3 // 2)], rd
print("PASS readability")

pc = prefix_clusters(
    spark.createDataFrame(
        [(9, "terms of use apply here"), (4, "terms of use apply there"),
         (1, "unique body")], "doc_id long, text string"),
    "doc_id", "text", 4).collect()
assert [(r["n_docs"], r["canonical_id"]) for r in pc] == [(2, 4)], pc
print("PASS prefix_clusters")

ev7 = spark.createDataFrame(
    [("click", "2024-01-0%d 12:00:00" % d) for d in (1, 2, 3)] * 5
    + [("click", "2024-01-04 12:00:00")] * 50,
    "event_type string, s string").selectExpr(
        "event_type", "CAST(s AS TIMESTAMP) AS ts")
da = {str(r["day"]): (r["n_events"], r["median"], r["score_milli"])
      for r in daily_anomalies(ev7, "event_type", "ts", 0).collect()}
assert da["2024-01-04"] == (50, 5, 45000), da
print("PASS daily_anomalies")

se = spark.createDataFrame(
    [("u1", 0), ("u1", 600), ("u1", 6000), ("u2", 0)],
    "user_id string, sec long").selectExpr(
        "user_id", "timestamp_seconds(sec) AS ts")
ss = {(r["dur_bucket"], r["len_bucket"]): (r["n_sessions"], r["max_dur_sec"])
      for r in session_stats(se, "user_id", "ts", 1800).collect()}
assert ss[(10, 2)] == (1, 600) and ss[(1, 1)] == (2, 0), ss
print("PASS session_stats")

ab = ab_lift(
    spark.createDataFrame(
        [(u, "view") for u in range(1, 101)]
        + [(u, "purchase") for u in range(1, 101, 4)],
        "user_id long, event_type string"),
    "user_id", "event_type", "purchase", 50).collect()
assert len(ab) == 2 and ab[0]["variant"] == "A"     and ab[0]["lift_vs_a_micro"] == 0     and sum(r["n_users"] for r in ab) == 100, ab
print("PASS ab_lift")

# round 8 wave 8: chi-square terms + exact jaccard join
from graft import chi2_terms, jaccard_pairs

c2 = chi2_terms(
    spark.createDataFrame(
        [("A", "cats shared"), ("A", "cats shared"), ("A", "cats shared"),
         ("B", "shared"), ("B", "shared"), ("B", "shared")],
        "source string, text string"),
    "source", "text", 5).collect()
# 'cats': a=3 dt=3 ds=3 N=6 -> chi2_milli 6000; 'shared' pruned (dt=6)
assert [(r["source"], r["term"], r["chi2_milli"]) for r in c2]     == [("A", "cats", 6000)], c2
print("PASS chi2_terms")

jp = jaccard_pairs(
    spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id long, text string"),
    "doc_id", "text", 600).collect()
# docs 1,2: |inter|=3 |union|=5 -> 600 >= 600; doc 3 disjoint
assert [(r["a"], r["b"], r["jaccard_milli"]) for r in jp] == [(1, 2, 600)], jp
print("PASS jaccard_pairs")

# round 8 wave 9: fertility, silhouette, pca_top
from graft import bpe_fertility, silhouette, pca_top

fert = bpe_fertility(
    spark.createDataFrame([(1, "aa bb", "en"), (2, "aa", "de")],
                          "doc_id long, text string, lang string"),
    ["lang"], "text",
    spark.createDataFrame([("aa", 2, ["aa"]), ("bb", 1, ["b", "b"])],
                          "w string, cnt long, toks array<string>")).collect()
f = {r["lang"]: (r["fertility_milli"], r["chars_per_token_milli"]) for r in fert}
assert f == {"en": (1500, 1333), "de": (1000, 2000)}, fert
print("PASS bpe_fertility")

sil = silhouette(
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.05]), (2, [0.0, 1.0]), (3, [0.05, 0.95])],
        "vec_id long, embedding array<float>"),
    "vec_id", "embedding", 2, 2).collect()
assert sum(r["n_vecs"] for r in sil) == 4     and all(r["min_s_micro"] > 900000 for r in sil), sil
print("PASS silhouette")

pc = pca_top(
    spark.createDataFrame(
        [(i, [0.6 * t, 0.8 * t]) for i, t in enumerate([-2.0, -1.0, 1.0, 2.0])],
        "vec_id long, embedding array<float>"),
    "embedding", 2, 8).collect()
assert [r["v_micro"] for r in pc] == [750000, 1000000], pc
print("PASS pca_top")

from graft import pca_project

pp = pca_project(
    spark.createDataFrame(
        [(i, i % 2, [0.6 * t, 0.8 * t])
         for i, t in enumerate([-2.0, -1.0, 1.0, 2.0])],
        "vec_id long, label int, embedding array<float>"),
    "label", "embedding", 2, 8).collect()
# rank-1 data: projection = |t| * (600*75e4 + 800*1e6) with signs; labels
# alternate over t = -2,-1,1,2 -> label 0: {-2,1}, label 1: {-1,2}
assert {(r["grp"], r["sum_p"], r["sum_abs_p"]) for r in pp}     == {(0, -1250000000, 3750000000), (1, 1250000000, 3750000000)}, pp
print("PASS pca_project")

from graft import neyman_allocation

ney = neyman_allocation(
    spark.createDataFrame(
        [("A", 100), ("A", 100), ("A", 100),
         ("B", 0), ("B", 1000), ("B", 0), ("B", 1000),
         ("C", 90), ("C", 110)],
        "source string, n_chars long"),
    "source", "n_chars", 100).collect()
n = {r["source"]: r["alloc"] for r in ney}
assert sum(n.values()) == 100 and n["B"] > n["C"] > n["A"], ney
print("PASS neyman_allocation")

from graft import sample_to_quotas

sq = sample_to_quotas(
    spark.createDataFrame([("A", i, 10 * i) for i in range(1, 11)],
                          "source string, doc_id long, n_chars long"),
    "source", "doc_id",
    spark.createDataFrame([("A", 4)], "source string, alloc long")).collect()
assert len(sq) == 4 and sorted(r["sample_rank"] for r in sq) == [1, 2, 3, 4], sq
print("PASS sample_to_quotas")

from graft import auc_by_group

auc = auc_by_group(
    spark.createDataFrame(
        [("g", 0, 1), ("g", 1, 2), ("g", 0, 2), ("g", 1, 3)],
        "source string, y long, score long"),
    "source", "y", "score").collect()
# 3 wins + 1 tie of 4 pairs -> 0.875
assert len(auc) == 1 and auc[0]["auc_micro"] == 875000, auc
print("PASS auc_by_group")

# ------------------------------------------ Unicode, fuzzy join, payloads

import graft

# NFC: the NFD spelling (e + U+0301) must fold onto the composed bytes
nfd = "résumé data"
nfc = "résumé data"
df = spark.createDataFrame(
    [(1, nfd), (2, nfc), (3, "Привет мир")],
    ["doc_id", "text"])
out = df.select("doc_id",
                F.length(graft.nfc_normalize(F.col("text"))).alias("n"),
                graft.dominant_script(graft.script_counts(F.col("text"))).alias("s"),
                F.size(graft.u_tokens(F.col("text"))).alias("t")).collect()
m = {r[0]: (r[1], r[2], r[3]) for r in out}
assert m[1] == m[2] == (11, "latn", 2), m
assert m[3][1] == "cyrl" and m[3][2] == 2, m

fz = spark.createDataFrame(
    [(1, "alpha bravo charlie delta echo foxtrot"),
     (2, "alpxha bravo charlie delta echo foxtrot")], ["doc_id", "text"])
pairs = graft.fuzzy_pairs_indel(fz, "doc_id", "text").collect()
assert len(pairs) == 1 and pairs[0]["a"] == 1 and pairs[0]["b"] == 2, pairs

# CJK per-codepoint tokenization (round 12): a Han sentence is one token
# per codepoint, not one run-token; Thai stays a run
df = spark.createDataFrame(
    [(1, "世界模型"), (2, "สวัสดีชาวโลก"), (3, "hello world")], ["doc_id", "text"])
out = {r[0]: r[1] for r in
       df.select("doc_id", F.size(graft.u_tokens(F.col("text"))).alias("n")).collect()}
assert out == {1: 4, 2: 1, 3: 2}, out

# cross-format BMP <-> JPEG dedup: same mosaic raster, different container,
# one dHash cluster per doc
docs = spark.createDataFrame(
    [(1, "a deterministic document body for the mosaic raster"),
     (2, "another, different document body with other bytes")],
    ["doc_id", "text"])
bmp = graft.with_mosaic_bmp_payload(docs, "text")
jpg = graft.with_jpeg_payload(
    docs.select((F.col("doc_id") + 100).alias("doc_id"), "text"), "text")
ph = graft.perceptual_hash(bmp.select("doc_id", "payload")
                           .unionAll(jpg.select("doc_id", "payload")),
                           "doc_id", "payload").collect()
h = {r[0]: r[1] for r in ph}
assert h[1] == h[101] and h[2] == h[102] and h[1] != h[2], h
print("PASS unicode text path, indel fuzzy join, cross-format payload dedup")

# ------------------------------------------------------- incremental ANN

emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
hist = emb.where(F.col("vec_id") % 3 != 0)
batch = emb.where(F.col("vec_id") % 3 == 0).select(
    F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
r1 = graft.ann_incremental(hist, batch, "vec_id", "embedding", "qid", "qv",
                           k=3, nprobe=2, num_centroids=8, iters=1)
assert r1.count() > 0
r2 = graft.ann_incremental_kscaled(hist, batch, "vec_id", "embedding",
                                   "qid", "qv", k=3, num_centroids=16, iters=1)
assert r2.count() > 0

# k-scaled incremental ANN returns a clean per-query rank ladder
r = graft.ann_incremental_kscaled(hist, batch, "vec_id", "embedding",
                                  "qid", "qv", k=3, num_centroids=21, iters=1)
rows = r.collect()
assert rows and all(1 <= x["rank"] <= 3 for x in rows), rows[:5]
print("PASS ann_incremental + ann_incremental_kscaled")

spark.stop()
print("PASS: round-8 wave-2 + wave-3 + wave-6 + wave-7 + wave-8 + wave-9 wrappers")
