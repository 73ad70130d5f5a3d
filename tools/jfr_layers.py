#!/usr/bin/env python3
"""Buckets the executor-thread CPU samples of a JFR recording by layer.

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr,settings=profile \\
        python3 perfbench/run.py --workload fold_stream --seed 12 --seconds 5 --trace 0
    python3 tools/jfr_layers.py run.jfr

Streams `jfr print --stack-depth 256 --events jdk.ExecutionSample` (jfr
keeps 5 frames per stack by default; the text form is read line by line,
where `--json` would be some 250 MB for one fold_stream run), keeps the
samples of Spark's task threads ("Executor task launch worker"), and gives
each sample to the first layer below with a frame anywhere in its stack: a
Kryo call made by the state store counts as Kryo, and code generation
counts as codegen whichever operator asked for it. Prints one line per
layer: its sample count and its share of the executor samples. The samples
cover the whole run (set-up, warm-up and the output checks included), so
compare shares of two builds at the same seed rather than read them alone.
"""
import subprocess
import sys

# (layer, frame prefixes); the first layer that matches a sample takes it
LAYERS = [
    ("codegen", ("org.codehaus.janino.", "org.codehaus.commons.compiler.",
                 "org.apache.spark.sql.catalyst.expressions.codegen.")),
    ("kryo", ("com.esotericsoftware.", "org.apache.spark.serializer.KryoSerializer")),
    ("task_deserialize", ("java.io.ObjectInputStream.",)),
    ("append_columns", ("org.apache.spark.sql.execution.AppendColumnsExec",
                        "org.apache.spark.sql.execution.AppendColumnsWithObjectExec")),
    ("filter_math", ("graft.linalg.", "graft.stats.", "graft.filter.LinearKalmanCompute")),
    ("graft_fold", ("graft.state.", "graft.filter.", "graft.smoother.", "graft.mixture.",
                    "org.apache.spark.sql.graftbridge.")),
    ("state_store", ("org.apache.spark.sql.execution.streaming.state.",)),
    ("stateful_operator", ("org.apache.spark.sql.execution.streaming.operators.stateful.",)),
    ("sort", ("org.apache.spark.util.collection.unsafe.sort.", "org.apache.spark.sql.execution.SortExec",
              "org.apache.spark.sql.execution.UnsafeExternalRowSorter")),
    ("shuffle", ("org.apache.spark.shuffle.", "org.apache.spark.storage.")),
]


def samples(path):
    """Yields (thread name, frames) per sample."""
    cmd = ["jfr", "print", "--stack-depth", "256", "--events", "jdk.ExecutionSample", path]
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as p:
        thread, frames, in_stack = "", [], False
        for line in p.stdout:
            s = line.strip()
            if s.startswith("sampledThread = "):
                thread = s[len("sampledThread = "):].strip('"')
            elif s.startswith("stackTrace = ["):
                frames, in_stack = [], True
            elif in_stack and s == "]":
                in_stack = False
                yield thread, frames
            elif in_stack and s != "...":
                frames.append(s.split("(", 1)[0])


def layer(frames):
    for name, prefixes in LAYERS:
        if any(f.startswith(prefixes) for f in frames):
            return name
    return "other"


def main(path):
    counts = {}
    for thread, frames in samples(path):
        if thread.startswith("Executor task launch worker"):
            k = layer(frames)
            counts[k] = counts.get(k, 0) + 1
    total = sum(counts.values())
    for k, n in sorted(counts.items(), key=lambda kv: -kv[1]):
        print(f"{k:22s} {n:7d} {n / total:7.1%}")
    print(f"{'executor samples':22s} {total:7d}")


if __name__ == "__main__":
    main(sys.argv[1])
