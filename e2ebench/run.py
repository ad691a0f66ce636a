#!/usr/bin/env python3
"""End-to-end benchmark of the engine: MCP serving, index build and
reindex, and edit-then-search.

    python3 e2ebench/run.py --workload serve|index|edit_search --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the harness with sbt
(e2ebench/build.sbt) and records a class-data sharing archive; later runs
reuse both from e2ebench/target while the sources they were built from
are unchanged. See e2ebench/README.md. Each
run generates a seeded synthetic repository, drives the workload through
the engine's public entry points in one JVM with one closed-loop client
thread, checks every answer, and prints a detail line and then, as the
last line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import stats  # noqa: E402

HEAP_MB = 2048
CORES = len(os.sched_getaffinity(0))
# A run's unit count follows from --seconds alone, not from how fast the
# host is, so every run of a workload measures the same work.
UNIT_SECONDS = 10
# the harness is killed past SETUP_ALLOWANCE_S + units * UNIT_CEILING_S
SETUP_ALLOWANCE_S = 90
UNIT_CEILING_S = 40
# what the harness's class path and archive are built from, under ROOT
BUILD_INPUTS = ("build.sbt", "project", "src/main", "e2ebench/build.sbt",
                "e2ebench/project", "e2ebench/src")
# BENCHMARK.json lists serve and edit_search; index does not fit the
# contract's time budget beside them (README.md, "Time budget")
WORKLOADS = ("serve", "index", "edit_search")

# the two timed operation types behind op_p50_ms and op2_p50_ms
OPS = {"serve": ("search_code", "trace_execution_flow"),
       "index": ("reindex", "build"),
       "edit_search": ("fresh_search", "reindex")}
# composite spans that are not operations of their own
COMPOSITE = {"fresh_search"}

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op2_p50_ms": "ms",
              "ops_per_s": "1/s", "retained_heap_mb": "MB",
              "index_bytes_per_source_byte": "ratio"}

TOOLS = ("search_code", "search_hybrid", "kg_query", "trace_execution_flow")
PER_LAYER = dict(
    [("serve.%s.%s" % (t, m), u) for t in TOOLS for m, u in (
        ("dispatch_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"),
        ("tasks", "count"), ("cpu_ms", "ms"), ("run_ms", "ms"),
        ("shuffle_bytes", "bytes"), ("planning_ms", "ms"))] +
    [("search.embed_query_ms", "ms"), ("search.vector_ms", "ms"),
     ("search.vector_jobs", "count"), ("search.vector_cpu_ms", "ms"),
     ("search.bm25_ms", "ms"), ("search.bm25_jobs", "count"),
     ("search.bm25_cpu_ms", "ms"), ("search.bm25_shuffle_bytes", "bytes"),
     ("search.fuse_ms", "ms"), ("search.fuse_jobs", "count"),
     ("graph.related_ms", "ms"), ("graph.related_jobs", "count"),
     ("graph.bfs_ms", "ms"), ("graph.bfs_jobs", "count"),
     ("graph.build_ms", "ms"), ("graph.build_jobs", "count"),
     ("ingest.discover_ms", "ms"), ("ingest.files", "count"),
     ("ingest.bytes", "bytes"), ("chunk.chunk_ms", "ms"),
     ("chunk.chunks", "count"), ("embed.embed_ms", "ms"),
     ("embed.cpu_ms", "ms"), ("index.write_ms", "ms"),
     ("index.bytes_written", "bytes"), ("index.build_jobs", "count"),
     ("index.build_cpu_ms", "ms"), ("index.build_shuffle_bytes", "bytes"),
     ("index.reindex_ms", "ms"), ("index.reindex_jobs", "count"),
     ("index.reindex_cpu_ms", "ms"), ("index.reindex_bytes_written", "bytes"),
     ("index.rows_rewritten_per_row_changed", "ratio"),
     ("streaming.apply_ms", "ms"), ("streaming.apply_jobs", "count"),
     ("streaming.apply_cpu_ms", "ms"), ("streaming.bytes_written", "bytes"),
     ("jvm.gc_ms", "ms"), ("jvm.gc_count", "count"),
     ("trace.overhead_pct", "%")])


def fail(msg):
    print("e2ebench: " + msg, file=sys.stderr)
    sys.exit(1)


def unit_count(seconds, trace):
    """Timed units of a run: at least one, or two in a traced run, which
    alternates untraced and traced units."""
    return max(2 if trace else 1, int(seconds / UNIT_SECONDS + 0.5))


def deadline_s(n_units):
    return SETUP_ALLOWANCE_S + n_units * UNIT_CEILING_S


def source_key(root=ROOT):
    """Digest of every file the harness build reads, by path and content."""
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else []
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
        for path in paths:
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def launch_args():
    """JVM options and class path of the harness. The harness is built
    with sbt, then the classes one run loads are recorded in a class-data
    sharing archive that every later JVM maps instead of loading them.
    Both are redone whenever a build input changed since they were made."""
    launch = os.path.join(TARGET, "launch.txt")
    archive = os.path.join(TARGET, "harness.jsa")
    key_file = os.path.join(TARGET, "launch.key")
    key = source_key()
    made_from = None
    if os.path.exists(key_file):
        with open(key_file) as f:
            made_from = f.read().strip()
    if made_from != key or not os.path.exists(launch):
        for stale in (key_file, launch, archive):
            if os.path.exists(stale):
                os.remove(stale)
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "launchFile"],
            cwd=HERE, stdin=subprocess.DEVNULL, stdout=sys.stderr,
            stderr=sys.stderr).returncode
        if rc != 0 or not os.path.exists(launch):
            fail("harness build failed (sbt exit %d)" % rc)
    with open(launch) as f:
        args = [line.rstrip("\n") for line in f if line.strip()]
    if not os.path.exists(archive):
        work = fresh_dir(os.path.join(TARGET, "work", "archive"))
        write_inputs(work, "serve", 0)
        harness(args + ["-XX:ArchiveClassesAtExit=" + archive], "serve", 1, 0,
                work, time.time() + deadline_s(1))
        if not os.path.exists(archive):
            fail("class-data sharing archive was not written")
    with open(key_file, "w") as f:
        f.write(key + "\n")
    return args + ["-XX:SharedArchiveFile=" + archive]


def jar_digests(jvm_args):
    """sha256 of each class path jar built from this repository."""
    cp = jvm_args[jvm_args.index("-cp") + 1].split(os.pathsep)
    out = {}
    for path in cp:
        if path.endswith(".jar") and os.path.abspath(path).startswith(ROOT + os.sep):
            with open(path, "rb") as f:
                out[os.path.relpath(path, ROOT)] = hashlib.sha256(f.read()).hexdigest()
    return out


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def git_sha():
    try:
        # a checkout that is not a repository must not report an enclosing one
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, env=env)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def write_inputs(work, workload, seed):
    files, doc = corpus.plan(seed, workload)
    root = os.path.join(work, "corpus")
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(doc, f)
    return {"files": len(files),
            "chunks": sum(doc["chunk_counts"].values()),
            "bytes": sum(len(t.encode()) for t in files.values())}


def harness(jvm_args, workload, n_units, trace, work, deadline,
            t0=None):
    """Runs the harness JVM on the inputs in `work`; its result."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms%dm" % HEAP_MB, "-Xmx%dm" % HEAP_MB,
           "-Djava.io.tmpdir=" + tmp] + jvm_args + [
        "e2ebench.Harness", "--workload", workload,
        "--units", str(n_units), "--trace", str(trace),
        "--work", work, "--cores", str(CORES),
        "--t0-ms", str(int((t0 or time.time()) * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("harness passed its deadline; log: %s" % log_path)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("harness exited %d" % rc)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def untraced(r, name):
    """Samples of one operation type taken with tracing off."""
    flags = r["traced"].get(name, [])
    return [v for v, t in zip(r["samples"].get(name, []), flags) if not t]


def traced(r, name):
    flags = r["traced"].get(name, [])
    return [v for v, t in zip(r["samples"].get(name, []), flags) if t]


def end_to_end(workload, r, size):
    a, b = OPS[workload]
    n_ops = sum(len(v) for k, v in r["samples"].items() if k not in COMPOSITE)
    return {"setup_s": r["setup_s"],
            "op_p50_ms": stats.median(untraced(r, a)),
            "op2_p50_ms": stats.median(untraced(r, b)),
            "ops_per_s": n_ops / r["timed_wall_s"],
            "retained_heap_mb": r["retained_heap_mb"],
            "index_bytes_per_source_byte": r["index_bytes"] / size["bytes"]}


def named(workload, r, size):
    """The workload's metrics under their operation names."""
    out = {}
    for name in r["samples"]:
        xs = untraced(r, name)
        if xs:
            out[name + "_p50_ms"] = stats.median(xs)
            out[name + "_samples"] = len(xs)
            out[name + "_drift"] = stats.drift(xs)
    if workload == "serve":
        xs = untraced(r, "search_code")
        t = stats.tail(xs)
        out["search_code_tail"] = None if t is None else {
            "percentile": t[0], "ms": t[1], "samples_beyond": t[2],
            "samples": len(xs)}
        out["serve_calls_per_s"] = sum(
            len(r["samples"].get(k, [])) for k in TOOLS) / r["timed_wall_s"]
    if workload == "index":
        out["build_files_per_s"] = size["files"] / (
            stats.median(untraced(r, "build")) / 1000.0)
    if r["queries"]:
        out["repeated_query_share"] = 1 - len(set(r["queries"])) / len(r["queries"])
    out["failed_share"] = r["failed"] / max(1, r["attempted"])
    out["build_s"] = r["build_s"]
    return out


def per_layer(r):
    layers = dict(r["layers"])
    layers["jvm.gc_ms"] = r["gc_ms"]
    layers["jvm.gc_count"] = r["gc_count"]
    ratios = []
    for name in r["samples"]:
        on, off = traced(r, name), untraced(r, name)
        if on and off and name not in COMPOSITE:
            ratios.append(stats.median(on) / stats.median(off))
    layers["trace.overhead_pct"] = (stats.median(ratios) - 1) * 100 \
        if ratios else 0.0
    return layers


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()
    jvm_args = launch_args()  # builds before the clock starts
    jars = jar_digests(jvm_args)
    n_units = unit_count(args.seconds, args.trace)
    t0 = time.time()
    work = fresh_dir(os.path.join(TARGET, "work", args.workload))
    size = write_inputs(work, args.workload, args.seed)
    r = harness(jvm_args, args.workload, n_units, args.trace, work,
                t0 + deadline_s(n_units), t0)

    detail = named(args.workload, r, size)
    env = dict(r["env"], nproc=os.cpu_count(), cores_used=CORES,
               heap_mb=HEAP_MB, git_sha=git_sha(), jars=jars, seed=args.seed,
               workload=args.workload, seconds=args.seconds, units=n_units,
               corpus=size)
    if args.trace:
        values = per_layer(r)
        units = PER_LAYER
        detail["span_times"] = r["span_times"]
        detail["probe_counts"] = {
            k: {c: w[c] for c in ("jobs", "stages", "tasks")}
            for k, w in r["work"].items()}
    else:
        values = end_to_end(args.workload, r, size)
        units = END_TO_END
    missing = sorted(set(units) - set(values))
    if missing:
        fail("metrics not measured: %s" % ", ".join(missing))
    print(json.dumps({"detail": detail, "failures": r["failures"], "env": env}))
    print(json.dumps({
        "correct": r["failed"] == 0 and r["attempted"] > 0,
        "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()}}))


if __name__ == "__main__":
    main()
