#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop client running a named
workload of `SparkEntry.queries` keys on local[nproc].

    python3 perfbench/run.py --workload write_path --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse the build while the sources are unchanged. The seed picks
the query order, which every pass of the run uses. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from the run's traced passes. Lines before it name every
metric with its unit.

--record rewrites perfbench/expected.json from the run's check pass: the
row count and result hash of every key of the workload. Use it only on a
commit whose results are known to be right.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
DATA = os.path.join("perfbench", "data", "sf0.01")
BUILD = ".bench_build"
MiB = 1024.0 * 1024.0

# Shared-frame families measured here: keys that read one persisted frame
# built by whichever of them runs first in a pass (GraphOps itemEdges,
# SimilarityOps srpPairs).
FAMILIES = {
    "graph": ["q139_pagerank", "q143_personalized_pagerank",
              "q145_graph_degrees", "q150_shortest_paths"],
    "srp": ["q34_sim_threshold_count", "q49_dedup_embed",
            "q111_hard_negatives", "q128_contrastive_positives"],
}

WORKLOADS = {
    # Two shared-frame families, each with the key that builds the
    # family's frame (listed first) and one that reuses it: the
    # cross-query cache, the native kernels and the pair-mining shuffles
    # do the work. Nothing is streamed or written, so this is the control
    # for stream and write changes.
    "llm_shared_frames": [
        "q145_graph_degrees", "q150_shortest_paths",
        "q34_sim_threshold_count", "q49_dedup_embed"],
    # A stateful stream and a foreachBatch sink, each a whole AvailableNow
    # stream inside the builder call, and merge-upsert and Avro container
    # sinks: checkpoints, WAL, state stores and file sinks on top of the
    # same read path. Nothing is cached, so this is the control for cache
    # changes.
    "write_path": [
        "q53_stream_stateful", "q61_stream_foreachbatch",
        "q64_merge_upsert", "q72_avro_container_roundtrip"],
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s")]

# Untimed count() passes after the check pass, inside set-up. The JIT is
# still compiling the hot paths then: the first pass after the check pass
# runs up to twice as slow as the tenth, and how much slower varies from
# run to run.
WARMUP_PASSES = 3

PER_LAYER = [
    ("ops.construct_s", "s"), ("ops.eager_jobs", "count"),
    ("plan.plan_s", "s"), ("tables.load_s", "s"),
    ("scan.input_mb", "MB"), ("scan.input_records", "count"),
    ("exec.single_task_stages", "count"), ("exec.exec_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_cpu_s", "s"),
    ("exec.cpu_util", "ratio"), ("exec.stage_skew", "ratio"),
    ("exec.gc_s", "s"), ("exec.peak_task_mem_mb", "MB"),
    ("spill.memory_mb", "MB"), ("spill.disk_mb", "MB"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"),
    ("cache.tracked_refs", "count"), ("cache.frames", "count"),
    ("cache.stored_mb", "MB"), ("cache.inmem_scans", "count"),
    ("cache.builds", "count"), ("cache.hit_ratio", "ratio"),
    ("family.graph_s", "s"), ("family.srp_s", "s"),
    ("stream.batches", "count"), ("stream.trigger_s", "s"),
    ("stream.add_batch_s", "s"), ("stream.commit_s", "s"),
    ("stream.state_commit_s", "s"), ("stream.state_rows", "count"),
    ("stream.start_stop_s", "s"),
    ("write.mb", "MB"), ("write.records", "count"), ("write.amp", "ratio"),
    ("trace.overhead_s", "s"),
]

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def query_order(keys, seed):
    """The seed's permutation of the keys, except that keys of one
    shared-frame family keep their listed order among the positions the
    family takes, so the same key builds the family's frame in every run
    and each key's latency means the same thing across runs."""
    order = list(keys)
    random.Random(seed).shuffle(order)
    for fam in FAMILIES.values():
        members = [k for k in keys if k in fam]
        slots = [i for i, k in enumerate(order) if k in fam]
        for i, k in zip(slots, members):
            order[i] = k
    return order


def run_child(cmd, log_path, timeout, **kw):
    """Run a child in its own process group with output to log_path; the
    group is killed if the child outlives the timeout or this process is
    stopped, and waited for in every case. Returns the exit code or
    "timeout"."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def fail(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join("src", "main"), os.path.join("perfbench", "src"),
             os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt unless the sources are unchanged;
    returns the path of a java @argfile holding the classpath."""
    out = os.path.join(BUILD, "perfbench")
    os.makedirs(out, exist_ok=True)
    stamp, argfile = os.path.join(out, "stamp"), os.path.join(out, "classpath.args")
    fp = source_fingerprint()
    if os.path.exists(argfile) and os.path.exists(stamp) \
            and open(stamp).read() == fp:
        return argfile
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log_path = os.path.join(out, "sbt.log")
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                    "compile", "export Runtime/fullClasspath"],
                   log_path, 800, cwd="perfbench", env=env)
    lines = open(log_path).read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (log: %s)" % log_path, 3)
    with open(argfile, "w") as f:
        f.write("-cp\n" + lines[-1].strip() + "\n")
    with open(stamp, "w") as f:
        f.write(fp)
    return argfile


# ------------------------------------------------------------------ run

def heap():
    """Half of MemTotal, clamped to 2..8 GiB (the repository's test-command rule)."""
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return "%dg" % min(8, max(2, g))


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(argfile, order, args, ncores, rundir):
    out = os.path.join(rundir, "records.jsonl")
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JVM_OPENS] + [
        "-Xmx" + heap(), "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + os.path.abspath(tmp), "@" + argfile,
        "graft.perfbench.Main", "--data", os.path.abspath(DATA),
        "--cores", str(ncores), "--order", ",".join(order),
        "--warmup", str(WARMUP_PASSES),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", os.path.abspath(out),
        "--t0-us", str(int(time.time() * 1e6))]
    log_path = os.path.join(rundir, "jvm.log")
    rc = run_child(cmd, log_path, args.seconds + 150)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log_path).readlines()[-30:]))
        fail("benchmark process failed (%s)" % rc, 4)
    return [json.loads(line) for line in open(out)]


# -------------------------------------------------------------- metrics

def check(recs, expected, record):
    """Correctness of every execution: each timed count() against the
    key's expected rows, and each key's check-pass hash against the
    expected hash. Returns (attempted, failed, problems)."""
    attempted, problems = 0, []
    for r in recs:
        if r["t"] != "q":
            continue
        attempted += 1
        exp = expected.get(r["key"])
        if r["error"]:
            problems.append("%s pass %d threw: %s" % (r["key"], r["pass"], r["error"]))
        elif exp is None and not record:
            problems.append("%s has no expected result" % r["key"])
        elif exp is not None and r["rows"] != exp["rows"]:
            problems.append("%s pass %d: %d rows, expected %d"
                            % (r["key"], r["pass"], r["rows"], exp["rows"]))
        elif exp is not None and r["pass"] == 0 and r["hash"] != exp["hash"]:
            problems.append("%s result hash %s, expected %s"
                            % (r["key"], r["hash"], exp["hash"]))
    return attempted, len(problems), problems


def end_to_end(recs):
    """The gated metrics, and the ones printed beside them without a bound:
    at this run length their spread between runs is wider than any bound
    (query_p50_s, query_tail_s) or they are 0 by design on some workloads
    (cache_peak_mb)."""
    q = [r for r in recs if r["t"] == "q" and r["pass"] > 0 and not r["traced"]]
    lat = {}
    for r in q:
        lat.setdefault(r["key"], []).append(r["latency"])
    allv = [r["latency"] for r in q]
    tail, pct, beyond = stats.tail(allv)
    passes = sorted({r["pass"] for r in q})
    peak = [max(r["stored_bytes"] for r in q if r["pass"] == p) / MiB for p in passes]
    setup = [r["s"] for r in recs if r["t"] == "setup"][0]
    info = [("query_p50_s", statistics.median(allv), "s", ""),
            ("query_tail_s", tail, "s",
             "p%g of %d executions, %d beyond" % (pct, len(allv), beyond)),
            ("cache_peak_mb", statistics.median(peak), "MB", ""),
            ("timed_passes", len(passes), "count", "")]
    return {"setup_s": setup, "pass_s": stats.sum_of_medians(lat)}, info


def layer_pass(recs, p, ncores):
    """Per-layer totals of one traced pass."""
    q = [r for r in recs if r["t"] == "q" and r["pass"] == p]
    stages = [r for r in recs if r["t"] == "stage" and r["pass"] == p]
    ex_stages = [s for s in stages if s["phase"] == "execute"]
    jobs = [r for r in recs if r["t"] == "job" and r["pass"] == p]
    scans = [r for r in recs if r["t"] == "scan" and r["pass"] == p]
    batches = [r for r in recs if r["t"] == "batch" and r["pass"] == p]
    tables = [r["s"] for r in recs if r["t"] == "tables" and r["pass"] == p]

    def tot(rows, field, scale=1.0):
        return sum(r[field] or 0 for r in rows) / scale

    exec_s = tot(q, "execute")
    cpu_s = tot(ex_stages, "cpu_ns", 1e9)
    slowest = max(ex_stages, key=lambda s: s["end"] - s["start"], default=None)
    in_mb = tot(stages, "in_bytes", MiB)
    out_mb = tot(stages, "out_bytes", MiB)
    scanned = tot(scans, "scans")
    lat = {r["key"]: r["latency"] for r in q}
    construct = {r["key"]: r["construct"] or 0.0 for r in q}
    last_state, trig = {}, {}
    for b in sorted(batches, key=lambda b: b["start"]):
        last_state[b["key"]] = b["state_rows"]
        trig[b["key"]] = trig.get(b["key"], 0.0) + b["trigger_ms"] / 1e3
    m = {
        "ops.construct_s": sum(construct.values()),
        "ops.eager_jobs": sum(1 for j in jobs if j["phase"] == "construct"),
        "plan.plan_s": tot(q, "plan"),
        "tables.load_s": sum(tables),
        "scan.input_mb": in_mb,
        "scan.input_records": tot(stages, "in_records"),
        "exec.single_task_stages": sum(1 for s in ex_stages if s["tasks"] == 1),
        "exec.exec_s": exec_s,
        "exec.jobs": sum(1 for j in jobs if j["phase"] == "execute"),
        "exec.stages": len(ex_stages),
        "exec.tasks": tot(ex_stages, "tasks"),
        "exec.task_cpu_s": cpu_s,
        "exec.cpu_util": cpu_s / (exec_s * ncores) if exec_s else 0.0,
        "exec.stage_skew": (slowest["task_max_ms"] / slowest["task_med_ms"]
                            if slowest and slowest["task_med_ms"] else 1.0),
        "exec.gc_s": tot(q, "gc_ms", 1e3),
        "exec.peak_task_mem_mb": max((s["peak_task_mem"] for s in stages),
                                     default=0) / MiB,
        "spill.memory_mb": tot(stages, "spill_mem", MiB),
        "spill.disk_mb": tot(stages, "spill_disk", MiB),
        "shuffle.write_mb": tot(stages, "shuffle_write", MiB),
        "shuffle.read_mb": tot(stages, "shuffle_read", MiB),
        "shuffle.fetch_wait_s": tot(stages, "fetch_wait_ms", 1e3),
        "cache.tracked_refs": max((r["tracked"] for r in q), default=0),
        "cache.frames": max((r["frames"] for r in q), default=0),
        "cache.stored_mb": max((r["stored_bytes"] for r in q), default=0) / MiB,
        "cache.inmem_scans": scanned,
        "cache.builds": tot(scans, "builds"),
        "cache.hit_ratio": tot(scans, "hits") / scanned if scanned else 0.0,
        "stream.batches": len(batches),
        "stream.trigger_s": tot(batches, "trigger_ms", 1e3),
        "stream.add_batch_s": tot(batches, "add_batch_ms", 1e3),
        "stream.commit_s": (tot(batches, "wal_ms") + tot(batches, "commit_offsets_ms")) / 1e3,
        "stream.state_commit_s": tot(batches, "state_commit_ms", 1e3),
        "stream.state_rows": sum(last_state.values()),
        "stream.start_stop_s": sum(construct[k] - t for k, t in trig.items()),
        "write.mb": out_mb,
        "write.records": tot(stages, "out_records"),
        "write.amp": out_mb / in_mb if in_mb else 0.0,
    }
    for fam, keys in FAMILIES.items():
        m["family.%s_s" % fam] = sum(lat.get(k, 0.0) for k in keys)
    return m


def per_layer(recs, ncores):
    traced = sorted({r["pass"] for r in recs
                     if r["t"] == "q" and r["pass"] > 0 and r["traced"]})
    rows = [layer_pass(recs, p, ncores) for p in traced]
    out = {name: statistics.median(r[name] for r in rows) for name, _ in PER_LAYER
           if name != "trace.overhead_s"}
    lat = {True: {}, False: {}}
    for r in recs:
        if r["t"] == "q" and r["pass"] > 0:
            lat[r["traced"]].setdefault(r["key"], []).append(r["latency"])
    out["trace.overhead_s"] = (stats.sum_of_medians(lat[True])
                               - stats.sum_of_medians(lat[False]))
    return out, traced


def span_self_times(recs, traced):
    """Mean self time per traced pass, by span kind: the benchmark's own
    spans plus Spark jobs, stages and stream micro-batches."""
    spans, kind = {}, {}
    traced = set(traced)
    pass_of = {}
    for r in recs:
        if r["t"] == "span":
            spans[r["id"]] = (r["parent"] or None, r["start"], r["end"])
            kind[r["id"]] = r["kind"]
    # Keep only the subtrees of traced passes.
    for r in recs:
        if r["t"] == "span" and r["kind"] == "pass":
            pass_of[r["id"]] = int(r["name"].split()[-1])
    keep = set()
    for sid in spans:
        cur = sid
        while cur in spans and cur not in pass_of:
            cur = spans[cur][0]
        if pass_of.get(cur) in traced:
            keep.add(sid)
    spans = {k: v for k, v in spans.items() if k in keep}

    def batch_id(r):
        return "batch-%s-%d-%s" % (r["key"], r["pass"], r["batch"])

    for r in recs:
        if r["t"] == "batch" and r["pass"] in traced:
            sid = batch_id(r)
            spans[sid] = (r["parent"], r["start"], r["start"] + r["trigger_ms"] * 1000)
            kind[sid] = "stream_batch"
    job_ids = {}
    for r in recs:
        if r["t"] == "job" and r["pass"] in traced:
            sid = "job%d" % r["job"]
            job_ids[r["job"]] = sid
            parent = batch_id(r) if batch_id(r) in spans else r["parent"]
            spans[sid], kind[sid] = (parent, r["start"], r["end"]), "job"
    for r in recs:
        if r["t"] == "stage" and r["job"] in job_ids:
            sid = "stage%d" % r["stage"]
            spans[sid], kind[sid] = (job_ids[r["job"]], r["start"], r["end"]), "stage"
    out = {}
    for sid, s in stats.self_times(spans).items():
        out[kind[sid]] = out.get(kind[sid], 0.0) + s / 1e6 / max(1, len(traced))
    return out


def fmt(v):
    return v if isinstance(v, int) else float("%.6g" % v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--report", help="write the full run report (JSON) here")
    args = ap.parse_args()
    # A stop request unwinds through run_child, which kills its child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        fail("--seconds must be at least 1", 2)
    for need in (os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("perfbench", "build.sbt"), DATA):
        if not os.path.exists(need):
            fail("run from the repository root: %s is missing" % need, 2)

    argfile = build()
    order = query_order(WORKLOADS[args.workload], args.seed)
    ncores = cores()
    rundir = os.path.join(BUILD, "runs", "%d-%d" % (os.getpid(), time.time_ns()))
    os.makedirs(rundir)
    try:
        recs = run_jvm(argfile, order, args, ncores, rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    if args.record:
        for r in recs:
            if r["t"] == "q" and r["pass"] == 0 and not r["error"]:
                expected[r["key"]] = {"rows": r["rows"], "hash": r["hash"]}
        with open(EXPECTED, "w") as f:
            json.dump(dict(sorted(expected.items())), f, indent=1)
            f.write("\n")
    attempted, failed, problems = check(recs, expected, args.record)
    for p in problems:
        print("FAILED " + p)

    report = {"workload": args.workload, "seed": args.seed, "order": order,
              "cores": ncores, "heap": heap(), "attempted": attempted,
              "failed": failed}
    info = [("failed_frac", failed / attempted, "ratio",
             "%d of %d executions" % (failed, attempted))]
    if args.trace:
        values, passes = per_layer(recs, ncores)
        units = dict(PER_LAYER)
        report["self_s_by_span_kind"] = span_self_times(recs, passes)
    else:
        passes = sorted({r["pass"] for r in recs if r["t"] == "q" and r["pass"] > 0})
        values, more = end_to_end(recs)
        units = dict(END_TO_END)
        info += more
    print("workload = %s, seed = %d, cores = %d, order = %s"
          % (args.workload, args.seed, ncores, ",".join(order)))
    for name, v, unit, note in info:
        print("%s = %s %s%s" % (name, fmt(v), unit, "  (%s)" % note if note else ""))
        report[name] = v
    for name, v in values.items():
        print("%s = %s %s" % (name, fmt(v), units[name]))
    report["metrics"] = values
    report["per_key"] = per_key(recs, passes, args.trace)
    if args.report:
        with open(args.report, "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": v, "unit": units[name]} for name, v in values.items()}}))


def per_key(recs, passes, traced):
    """Per-key medians over the given passes, for the run report; task
    memory and spill come from the stage records of traced passes."""
    out = {}
    stages = [r for r in recs if r["t"] == "stage" and r["pass"] in passes]
    for r in recs:
        if r["t"] == "q" and r["pass"] in passes:
            k = out.setdefault(r["key"], {})
            k.setdefault("latency", []).append(r["latency"])
            k.setdefault("tracked", []).append(r["tracked"])
            k.setdefault("frames", []).append(r["frames"])
            if traced:
                st = [s for s in stages if s["pass"] == r["pass"] and s["key"] == r["key"]]
                k.setdefault("peak_task_mem_mb", []).append(
                    max((s["peak_task_mem"] for s in st), default=0) / MiB)
                k.setdefault("spill_mb", []).append(
                    sum(s["spill_mem"] + s["spill_disk"] for s in st) / MiB)
    return {key: {f: statistics.median(v) for f, v in d.items()} for key, d in out.items()}


if __name__ == "__main__":
    main()
