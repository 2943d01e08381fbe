#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the benchmark from source (perfbench/build.py); later runs reuse the
build while the sources are unchanged. Each run starts one
fresh JVM with Spark as local[nproc], runs the workload as a closed
loop (one client, one operation at a time), checks its outputs, writes
the full run record to perfbench/.work/results/ and prints one JSON line
last: the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1).

Workloads:
  podcast_etl  the paper's dataflow on a generated podcast corpus
  corpus_cold  corpus-pipeline queries, cold: eager fits, sorts, compositions
  lake_serve   analytics queries over Delta/Iceberg tables: authoring, then passes
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build as build_py  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
RESULTS = os.path.join(WORK, "results")
RUN_TIMEOUT_S = 170
HEAP = "3g"
EPISODES = 20

# Query lists, in the order of the cold pass. Each is fixed: the seed only
# permutes the warm passes, so every seed does the same work. corpus_cold
# takes a query from each corpus module, chosen so that the cold pass
# fits BPE merges (t25), label propagation (d18) and k-means (s5), runs a
# checkpointed sort (t1) and a thread-pool composition (p16). lake_serve
# takes queries from each analytics module; its LakehouseScan queries
# author the Delta and Iceberg tables they read on first use, so the cold
# pass pays for authoring.
QUERIES = {
    "corpus_cold": [
        "t1_sentence_split", "t25_bpe_encode", "d3_minhash_lsh", "d18_cc_star",
        "s5_kmeans_ivf_topk", "p16_release_pipeline", "m4_frame_dedup",
    ],
    "lake_serve": [
        "q4_mention_counts", "wh_q1_podcasts", "wh_q5_sentiment_strict",
        "w1_tumbling", "w4_asof_join", "x6_rollup", "x11_approx_distinct",
        "x22_delta_scan", "x23_iceberg_scan", "x40_dsv2_delta_scan",
    ],
}

# Fewest warm passes after the cold one; more run while --seconds last.
# lake_serve is about serving repeated passes; corpus_cold is a cold job.
WARM_MIN = {"corpus_cold": 0, "lake_serve": 1}

END_TO_END = {"setup_s": "s", "setup_cold_s": "s", "job_s": "s", "heap_retained_mb": "MB"}

MODULES = ["Dashboard", "TextOps", "Dedup", "Similarity", "EventWindows",
           "Multimodal", "Extended", "TrainingSet", "WarehouseQueries",
           "LakehouseScan"]
PER_LAYER = {
    "etl.FeedIngest.wall_s": "s", "etl.FeedIngest.rows_out": "count",
    "etl.Transcripts.readChunks.wall_s": "s", "etl.Transcripts.readChunks.files": "count",
    "etl.Transcripts.readChunks.ms_per_file": "ms", "etl.Transcripts.readChunks.tasks": "count",
    "etl.Transcripts.sentenceDimension.wall_s": "s",
    "etl.Transcripts.sentenceDimension.shuffle_mb": "MB",
    "etl.Transcripts.sentenceDimension.sentences": "count",
    "etl.Transcripts.reduceTranscripts.wall_s": "s",
    "nlp.Stubs.stubEntities.wall_s": "s",
    "etl.Entities.wall_s": "s", "etl.Entities.entities_in": "count",
    "etl.Entities.aligned": "count", "etl.Entities.dropped": "count",
    "etl.Entities.shuffle_mb": "MB",
    "etl.WarehouseWriter.wall_s": "s", "etl.WarehouseWriter.rows_offered": "count",
    "etl.WarehouseWriter.rows_inserted": "count", "etl.WarehouseWriter.insert_ratio": "ratio",
    "etl.WarehouseWriter.bytes_written_per_user_byte": "ratio",
    "etl.replay_s": "s", "etl.episodes_per_s": "1/s",
    "queries.SessionCache.frames": "count", "queries.SessionCache.cached_mb": "MB",
    **{"queries.%s.%s" % (m, k): u for m in MODULES
       for k, u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("jobs_per_op", "count"))},
    "warm.pass_s": "s", "warm.passes": "count", "ops.p50_ms": "ms", "ops.tail_ms": "ms",
    "sources.files_written": "count", "sources.bytes_written": "bytes",
    "sources.bytes_per_user_byte": "ratio", "sources.input_mb": "MB",
    "sources.rows_read_per_row_out": "ratio",
    "spark.exec.jobs": "count", "spark.exec.stages": "count", "spark.exec.tasks": "count",
    "spark.exec.task_busy_s": "s", "spark.exec.utilisation": "ratio",
    "spark.exec.driver_only_s": "s", "spark.exec.gc_s": "s",
    "spark.exec.shuffle_read_mb": "MB", "spark.exec.shuffle_write_mb": "MB",
    "spark.exec.spill_mb": "MB", "spark.exec.max_task_over_median": "ratio",
    "spark.exec.failed_tasks": "count",
    "spark.codegen.classes": "count", "spark.codegen.compile_ms": "ms",
    "spark.storage.mb_after_op": "MB", "spark.storage.live_threads_after_op": "count",
    "trace.layer_self_s": "s", "trace.unattributed_s": "s", "job_cpu_s": "s",
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def tail(path, n=4000):
    """The end of a log file, for the error message of a failed step."""
    try:
        with open(path, errors="replace") as f:
            return f.read()[-n:]
    except OSError:
        return ""


def source_hash():
    """Hash of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    for p in build_py.sources(ROOT, HERE):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(src_hash):
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == src_hash and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp, cp_file):
        if os.path.exists(f):
            os.remove(f)
    log = os.path.join(BUILD, "compile.log")
    try:
        cp = build_py.build(ROOT, HERE, os.path.join(BUILD, "out"), log)
    except build_py.BuildError as e:
        sys.stderr.write(tail(log))
        die("build failed: %s; see %s" % (e, log))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(src_hash)
    return cp


def java_cmd(classpath, work, main, args):
    """The JVM command line of a benchmark run whose scratch directory is `work`."""
    return [build_py.java_bin(), "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP] + \
        [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dgraft.repo.root=" + work,
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classpath, main] + args


# Root spans of the cold job; the spans of warm repetitions are excluded.
COLD_ROOTS = ("podcast_etl.batch1", "podcast_etl.batch2",
              "corpus_cold.cold_pass", "lake_serve.cold_pass")


def cold_self_s(spans):
    """Self times over the cold job, as (layers, unattributed): the sum over
    every span below a cold root, and the roots' own self time, which no
    layer span covers (glue code, the listener drains of a traced run).
    The two add up to the traced job_s."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    roots = [s for s in spans if s["name"] in COLD_ROOTS]
    todo = [c for s in roots for c in children.get(s["id"], [])]
    layers = 0.0
    while todo:
        s = todo.pop()
        layers += s["self_s"]
        todo += children.get(s["id"], [])
    return layers, sum(s["self_s"] for s in roots)


def cpu_steal_s():
    """CPU time the hypervisor gave to other guests, where Linux reports it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return None


def git_commit():
    """The checkout's commit, or None when ROOT is not itself a git work tree."""
    def git(*args):
        return subprocess.run(["git"] + list(args), cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/") != os.path.realpath(ROOT):
            return None
        return git("rev-parse", "HEAD") or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["podcast_etl", "corpus_cold", "lake_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write perfbench/expected.tsv from this run instead of checking")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("no program sources next to perfbench/ (expected src/main/scala and build.sbt)")
    if not os.path.isfile(os.path.join(DATA, "documents.parquet")):
        die("benchmark data missing under " + DATA)

    load_start = os.getloadavg()[0]
    steal_start = cpu_steal_s()
    src_hash = source_hash()
    t_build = time.time()
    classpath = build(src_hash)
    build_s = time.time() - t_build

    run_id = "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    work = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    record_file = os.path.join(work, "record.json")
    cores = len(os.sched_getaffinity(0))

    corpus = os.path.join(work, "corpus")
    corpus_info = None
    if a.workload == "podcast_etl":
        try:
            import gen_corpus
        except ImportError as e:
            die("the corpus generator needs %s" % e.name)
        docs = os.path.join(DATA, "documents.parquet")
        m = gen_corpus.generate(docs, corpus, a.seed, EPISODES)
        again = gen_corpus.generate(docs, corpus + ".again", a.seed, EPISODES)["sha256"]
        shutil.rmtree(corpus + ".again")
        corpus_info = {k: m[k] for k in ("episodes", "podcasts", "chunk_files", "sentences",
                                         "entities", "input_bytes", "sha256")}
        corpus_info["same_seed_same_bytes"] = again == m["sha256"]

    cmd = java_cmd(classpath, work, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--data", DATA,
        "--corpus", corpus, "--work", work, "--out", record_file,
        "--queries", ",".join(QUERIES.get(a.workload, [])),
        "--warm-min", str(WARM_MIN.get(a.workload, 0)),
        "--expected", os.path.join(HERE, "expected.tsv"),
        "--record", "1" if a.record else "0"])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("run timed out after %d s" % RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(record_file):
        sys.stderr.write(tail(log))
        die("benchmark JVM exited with code %d" % rc)
    rec = json.load(open(record_file))

    layer = rec["per_layer"]
    if "etl.Transcripts.readChunks.files" in layer and layer["etl.Transcripts.readChunks.files"]:
        layer["etl.Transcripts.readChunks.ms_per_file"] = \
            1e3 * layer["etl.Transcripts.readChunks.wall_s"] / layer["etl.Transcripts.readChunks.files"]
    if layer.get("etl.WarehouseWriter.rows_offered"):
        layer["etl.WarehouseWriter.insert_ratio"] = \
            layer["etl.WarehouseWriter.rows_inserted"] / layer["etl.WarehouseWriter.rows_offered"]
    if layer.get("etl.input_bytes"):
        layer["etl.WarehouseWriter.bytes_written_per_user_byte"] = \
            layer.get("etl.WarehouseWriter.bytes_written", 0) / layer["etl.input_bytes"]
    for m in MODULES:
        ops = layer.get("queries.%s.ops" % m)
        if ops and "queries.%s.jobs" % m in layer:
            layer["queries.%s.jobs_per_op" % m] = layer["queries.%s.jobs" % m] / ops
    if layer.get("sources.rows_out"):
        layer["sources.rows_read_per_row_out"] = layer["sources.rows_read"] / layer["sources.rows_out"]
    if rec["tracing"]["spans"]:
        layer["trace.layer_self_s"], layer["trace.unattributed_s"] = \
            cold_self_s(rec["tracing"]["spans"])

    if corpus_info and not corpus_info["same_seed_same_bytes"]:
        rec["checks"].append({"name": "same seed gives byte-identical corpus", "ok": False,
                              "detail": "a second generation hashed differently"})
        rec["correct"] = False
    e2e = rec["end_to_end"]
    rec.update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cores, "load_avg_1m": {"start": load_start, "jvm_start": rec["load_avg_1m"]["start"],
                                        "jvm_end": rec["load_avg_1m"]["end"],
                                        "end": os.getloadavg()[0]},
        "cpu_steal_s": None if steal_start is None else cpu_steal_s() - steal_start,
        "git_commit": git_commit(), "source_sha256": src_hash, "build_s": build_s,
        "corpus": corpus_info, "data": os.path.relpath(DATA, ROOT),
        "failed_frac": rec["failed"] / max(1, rec["attempted"]),
    })
    out_file = os.path.join(RESULTS, "%s-%s.json" % (run_id, time.strftime("%Y%m%dT%H%M%S")))
    with open(out_file, "w") as f:
        json.dump(rec, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        metrics = {k: {"value": layer.get(k) or 0, "unit": u} for k, u in PER_LAYER.items()}
    else:
        missing = [k for k in END_TO_END if e2e.get(k) is None]
        if missing:
            die("run produced no value for " + ", ".join(missing) + "; see " + out_file)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print("perfbench: %s seed %d: %s; record %s" % (
        a.workload, a.seed, "outputs correct" if rec["correct"] else "OUTPUT CHECK FAILED",
        os.path.relpath(out_file, ROOT)))
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
