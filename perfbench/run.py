#!/usr/bin/env python3
"""Benchmark of the NEEL streaming pipeline and the committed MinHash
index, run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (cached under
.bench_build/, keyed by a digest of the sources), runs one workload in a
fresh JVM (Spark local[nproc]), checks every output against a reference
computation, prints the workload's metrics by name and unit, and ends
stdout with one JSON line {"correct", "attempted", "failed", "metrics"}.
--trace 0 gives the end-to-end metrics, --trace 1 the per-layer ones
(spans and engine counters, in a separate run). See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build")
JVM_HEAP = "2g"
RUN_LIMIT_S = 170

# Workload sizes live with each workload in src/main/scala/perfbench.
WORKLOADS = ("neel_stream", "neel_dataset", "index_churn")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness once per source digest; return the
    runtime classpath."""
    for need in ("src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    digest = source_digest()
    stamp = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(OUT, exist_ok=True)
    log("building program and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = os.environ.get("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.1f}s")
    return cp


# ------------------------------------------------------------------ run

def run_jvm(cp, workload, seed, seconds, trace, extra, tag, deadline):
    run_dir = os.path.join(OUT, "runs", f"{workload}-{seed}-{trace}{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    raw = os.path.join(run_dir, "raw.json")
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", os.path.join(run_dir, "work"), "--out", raw] + extra
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=run_dir)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(raw):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        fail(f"{workload} run failed ({code}); log: {log_path}", 1)
    with open(raw) as f:
        data = json.load(f)
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return data


# ------------------------------------------------------------- reduce

def med(xs):
    return benchlib.percentile(xs, 50) if xs else 0.0


def end_to_end(d):
    """Every end-to-end metric of one run, plus the workload's named
    figures for the human-readable lines."""
    w = d["workload"]
    named = {}
    if w == "neel_stream":
        lat = d["latencies_ms"]
        t = benchlib.tail(lat)
        batches = [b for b in d["sink_batches"] if 0 <= b[0] <= d["window_s"]]
        # median over sink batches inside the window of results / time
        # since the previous sink batch: whole batches only, and one
        # catch-up batch does not swing it
        rates = [b[1] / (b[0] - a[0]) for a, b in zip(batches, batches[1:]) if b[0] > a[0]]
        rps = med(rates)
        offered_valid = d["attempted_in_window"] / d["window_s"]
        grow = benchlib.backlog_growth(d["backlog"])
        ok = benchlib.sustained(d["backlog"], offered_valid)
        named = {
            "latency_p50_ms": (med(lat), "ms"),
            f"latency_p{t[0]:g}_ms" if t else "latency_tail_ms":
                (t[1] if t else float("nan"), "ms"),
            "latency_samples": (len(lat), "count"),
            "results_per_s": (rps, "tweets/s"),
            "offered_valid_per_s": (offered_valid, "tweets/s"),
            "gen_late_ms_max": (max(d["gen_late_ms"] or [0]), "ms"),
            "backlog_growth": (grow, "tweets"),
            "sustained": (1 if ok else 0, "bool"),
            "dropped_retweets": (d["dropped_retweets"], "count"),
            "dropped_malformed": (d["dropped_malformed"], "count"),
        }
        p50, thr = med(lat), rps
    elif w == "neel_dataset":
        svc = d["progress"].get("neel_service", [])
        batch_ms = [p["duration_ms"].get("triggerExecution", 0) for p in svc]
        named = {
            "dataset_tweets_per_s": (med(d["tweets_per_s"]), "tweets/s"),
            "drain_s_p50": (med(d["drain_s"]), "s"),
            "drains": (len(d["drain_s"]), "count"),
            "admission_batch_ms_p50": (med(batch_ms), "ms"),
            "export_ms_p50": (med(d["export_ms"]), "ms"),
            "dropped_invalid": (d["dropped_invalid"], "count"),
        }
        p50, thr = med(batch_ms), med(d["tweets_per_s"])
    else:
        commits, serves = d["commit_ms"], d["serve_ms"]
        named = {
            "commit_p50_ms": (med(commits), "ms"),
            "commit_p90_ms": (benchlib.percentile(commits, 90) if commits else 0, "ms"),
            "commits": (len(commits), "count"),
            "serve_p50_ms": (med(serves), "ms"),
            "serve_p90_ms": (benchlib.percentile(serves, 90) if serves else 0, "ms"),
            "serves": (len(serves), "count"),
            "churn_docs_per_s": (d["docs_churned"] / d["timed_s"], "docs/s"),
        }
        p50, thr = med(commits), d["docs_churned"] / d["timed_s"]
    attempted = max(1, int(d["attempted"]))
    named["error_rate"] = (d["failed"] / attempted, "fraction")
    named["peak_rss_mb"] = (d["vm_hwm_mb"], "MB")
    metrics = {
        "setup_s": (med(d["setup_reps_s"]), "s"),
        "latency_p50_ms": (p50, "ms"),
        "throughput_per_s": (thr, "1/s"),
    }
    return metrics, named


def per_layer(d, untraced):
    """Every per-layer metric from one traced run."""
    w = d["workload"]
    tr = d["trace"]
    W = d["window_s"]
    prog = d.get("progress", {})
    queries = tr.get("queries", {})
    m = {}

    # spans: benchmark spans + micro-batch phases + jobs, then idle gaps
    spans = [dict(id=s[0], parent=s[1], trace=s[2], name=s[3], layer=s[4],
                  track=s[5], start=max(0.0, s[6]), end=min(W, s[7]))
             for s in tr["spans"]]
    next_id = max([s["id"] for s in spans] + [0]) + 1
    span_by_id = {s["id"]: s for s in spans}
    for j in tr["jobs"]:
        track = j["track"] or queries.get(j["query"], "")
        if j["parent"] in span_by_id:
            track = span_by_id[j["parent"]]["track"]
        spans.append(dict(id=next_id, parent=j["parent"] if j["parent"] in span_by_id else -1,
                          trace="", name=f"job {j['id']}", layer="spark", track=track,
                          start=max(0.0, j["start_s"]), end=min(W, j["end_s"])))
        next_id += 1
    tracks = {"neel_stream": ["neel_service", "neel_fanin"],
              "neel_dataset": ["client", "neel_service", "neel_fanin"],
              "index_churn": ["client"]}[w]
    for t in tracks:
        ivs = [(s["start"], s["end"]) for s in spans
               if s["track"] == t and s["name"] == "microbatch.trigger"]
        if t.startswith("neel_"):
            for a, b in benchlib.gaps(ivs, 0.0, W):
                spans.append(dict(id=next_id, parent=-1, trace="", name="idle",
                                  layer="idle", track=t, start=a, end=b))
                next_id += 1
        spans.append(dict(id=next_id, parent=-1, trace="", name="window",
                          layer="unattributed", track=t, start=0.0, end=W))
        next_id += 1
    spans = [s for s in spans if s["track"] in tracks and s["end"] > s["start"]]
    benchlib.assign_parents(spans)
    selfs = benchlib.self_times(spans)
    wall = W * len(tracks)
    for layer in ("sources", "neel", "fanin", "microbatch", "sinks", "plans",
                  "spark", "idle", "wait", "bench", "unattributed"):
        m[f"self.{layer}_ms"] = (selfs.get(layer, 0.0) * 1000, "ms")
    m["trace.wall_ms"] = (wall * 1000, "ms")
    m["trace.accounted_frac"] = (1 - selfs.get("unattributed", 0.0) / wall if wall else 0, "ratio")
    m["trace.spans"] = (len(spans), "count")

    # sources / micro-batch cycle
    src = prog.get("neel_service", [])
    allp = [p for ps in prog.values() for p in ps]
    def dsum(key, ps=allp):
        return float(sum(p["duration_ms"].get(key, 0) for p in ps))
    data_batches = [p for p in src if p["rows"] > 0]
    m["sources.rows_per_batch"] = (
        sum(p["rows"] for p in data_batches) / len(data_batches) if data_batches else 0, "count")
    lags = []
    if w == "neel_stream":
        lands = d["file_land_s"]
        for p in data_batches:
            newest = [x for x in lands if x <= p["start_s"]]
            if newest:
                lags.append((p["start_s"] - max(newest)) * 1000)
    elif w == "neel_dataset":
        starts = d["drain_start_s"]
        for p in data_batches:
            before = [x for x in starts if x <= p["start_s"]]
            if before:
                lags.append((p["start_s"] - max(before)) * 1000)
    t = benchlib.tail(lags) if lags else None
    m["sources.lag_ms_p99"] = (t[1] if t else (max(lags) if lags else 0), "ms")
    m["sources.latestOffset_ms"] = (dsum("latestOffset", src), "ms")
    m["microbatch.batches"] = (len(allp), "count")
    m["microbatch.trigger_ms_p50"] = (
        med([p["duration_ms"].get("triggerExecution", 0) for p in allp]), "ms")
    for k in ("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit",
              "commitOffsets"):
        m[f"microbatch.{k}_ms"] = (dsum(k), "ms")
    qtracks = [t for t in tracks if t.startswith("neel_")]
    m["microbatch.idle_frac"] = (
        selfs.get("idle", 0.0) / (W * len(qtracks)) if qtracks else 0.0, "ratio")

    # neel
    rows_in = sum(p["rows"] for p in src)
    valid = tr["counters"].get("neel.rows_valid", 0)
    named = {s["name"]: 0.0 for s in spans}
    for s in spans:
        named[s["name"]] += (s["end"] - s["start"]) * 1000
    leg_ids = {s["id"] for s in spans if s["name"] == "neel.leg"}
    m["neel.rows_in"] = (rows_in, "count")
    m["neel.rows_valid"] = (valid, "count")
    m["neel.quarantine_ratio"] = ((rows_in - valid) / rows_in if rows_in else 0, "ratio")
    m["neel.entities_per_tweet"] = (d.get("entities_per_tweet", 0.0), "count")
    m["neel.plan_ms"] = (named.get("neel.plan", 0.0), "ms")
    m["neel.leg_ms"] = (named.get("neel.leg", 0.0), "ms")
    m["neel.task_ms"] = (float(sum(j["run_ms"] for j in tr["jobs"] if j["parent"] in leg_ids)), "ms")

    # fan-in state
    fan = prog.get("neel_fanin", [])
    st = [o for p in fan for o in p["state"]]
    done, late = d.get("emitted_complete", 0), d.get("emitted_timeout", 0)
    m["fanin.state_rows_max"] = (max([o["rows"] for o in st] or [0]), "count")
    m["fanin.state_bytes_max"] = (max([o["bytes"] for o in st] or [0]), "bytes")
    m["fanin.state_commit_ms"] = (float(sum(o["commit_ms"] for o in st)), "ms")
    m["fanin.emitted_complete"] = (done, "count")
    m["fanin.emitted_timeout"] = (late, "count")
    m["fanin.complete_ratio"] = (done / (done + late) if done + late else 0, "ratio")

    # sinks
    m["sinks.export_ms"] = (med(d.get("export_ms", [])), "ms")
    m["sinks.bytes_out"] = (med(d.get("export_bytes", [])), "bytes")

    # plans
    def p50(key):
        return med(d.get(key, []))
    cand = d.get("serve_candidates", [])
    pairs = d.get("serve_pairs", [])
    m["plans.append_commit_ms"] = (p50("append_ms"), "ms")
    m["plans.delete_commit_ms"] = (p50("delete_ms"), "ms")
    m["plans.purge_commit_ms"] = (p50("purge_ms"), "ms")
    m["plans.expire_ms"] = (p50("expire_ms"), "ms")
    m["plans.occ_conflicts"] = (d.get("occ_conflicts", 0), "count")
    m["plans.serve_ms"] = (p50("serve_ms"), "ms")
    m["plans.serve_candidates"] = (med(cand), "count")
    m["plans.serve_yield"] = (sum(pairs) / sum(cand) if sum(cand) else 0, "ratio")
    m["plans.files_live"] = ((d.get("files_live") or [0])[-1], "count")
    m["plans.versions_live"] = ((d.get("versions_live") or [0])[-1], "count")

    # fs (counting file system, timed window only)
    c = tr.get("counters", {})
    ops = 0
    for k in ("creates", "renames", "deletes", "mkdirs", "lists", "stats"):
        m[f"fs.{k}"] = (c.get(f"fs.{k}", 0), "count")
        ops += c.get(f"fs.{k}", 0)
    m["fs.bytes_written"] = (tr.get("fs_bytes_written", 0), "bytes")
    units = len(allp) if allp else max(1, d.get("rounds", 1))
    m["fs.ops_per_batch"] = (ops / units, "count")

    # spark
    jobs = tr["jobs"]
    ivs = [(max(0, j["start_s"]), min(W, j["end_s"])) for j in jobs]
    m["spark.jobs"] = (len(jobs), "count")
    m["spark.tasks"] = (sum(j["tasks"] for j in jobs), "count")
    m["spark.executor_run_ms"] = (float(sum(j["run_ms"] for j in jobs)), "ms")
    m["spark.driver_gap_ms"] = (sum(b - a for a, b in benchlib.gaps(ivs, 0, W)) * 1000, "ms")
    m["spark.shuffle_write_bytes"] = (sum(j["shuffle_write"] for j in jobs), "bytes")
    m["spark.spill_bytes"] = (sum(j["spill"] for j in jobs), "bytes")
    m["spark.gc_ms"] = (float(sum(j["gc_ms"] for j in jobs)), "ms")
    sk = tr.get("task_skews", [])
    m["spark.task_skew"] = (sum(sk) / len(sk) if sk else 1.0, "ratio")

    # open-loop generator
    late_ms = d.get("gen_late_ms", [])
    m["gen.late_ms_p99"] = (benchlib.percentile(late_ms, 99) if late_ms else 0, "ms")
    m["gen.late_ms_max"] = (max(late_ms or [0]), "ms")
    if w == "neel_stream":
        rate = d["attempted_in_window"] / W
        m["gen.backlog_growth"] = (benchlib.backlog_growth(d["backlog"]), "count")
        m["gen.sustained"] = (1 if benchlib.sustained(d["backlog"], rate) else 0, "bool")
    else:
        m["gen.backlog_growth"] = (0.0, "count")
        m["gen.sustained"] = (1, "bool")

    # tracing overhead against the last untraced run of this workload
    traced_e2e, _ = end_to_end(d)
    if untraced:
        k = "throughput_per_s"
        base = untraced["metrics"][k]["value"]
        m["trace.overhead_frac"] = (
            (base - traced_e2e[k][0]) / base if base else 0.0, "ratio")
    else:
        m["trace.overhead_frac"] = (0.0, "ratio")
    m["baseline.local1_tweets_per_s"] = (0.0, "1/s")
    return m, traced_e2e


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    cp = build()
    if time.time() > deadline - 60:
        deadline = time.time() + RUN_LIMIT_S  # first run in a checkout builds
    d = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, [], "", deadline)
    records = os.path.join(OUT, "records")
    os.makedirs(records, exist_ok=True)
    last_untraced = os.path.join(records, f"{a.workload}-untraced.json")

    e2e, named = end_to_end(d)
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds:g} trace {a.trace} "
          f"cpus {d['cpus']} session_s {d['session_s']:.2f}")
    for k, (v, u) in list(e2e.items()) + list(named.items()):
        print(f"  {k:28s} {v:14.4f} {u}")
    correct = d["failed"] == 0
    if a.trace == 0:
        result = {"correct": correct, "attempted": int(d["attempted"]),
                  "failed": int(d["failed"]),
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}}
        with open(last_untraced, "w") as f:
            json.dump(result, f)
    else:
        untraced = None
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                untraced = json.load(f)
        layers, _ = per_layer(d, untraced)
        if a.workload == "neel_dataset":
            # single-thread baseline of the same job (stream-processing
            # metrics sheet): one drain at local[1]
            b = run_jvm(cp, a.workload, a.seed, 1, 0,
                           ["--cpus", "1", "--setup-reps", "1", "--min-drains", "1"],
                           "-local1", deadline)
            layers["baseline.local1_tweets_per_s"] = (med(b["tweets_per_s"]), "1/s")
            correct = correct and b["failed"] == 0
        for k, (v, u) in layers.items():
            print(f"  {k:28s} {v:14.4f} {u}")
        record = {"workload": a.workload, "seed": a.seed, "cpus": d["cpus"],
                  "end_to_end_traced": {k: v for k, (v, _) in e2e.items()},
                  "named_traced": {k: v for k, (v, _) in named.items()},
                  "per_layer": {k: v for k, (v, _) in layers.items()}}
        with open(os.path.join(records, f"{a.workload}-traced.json"), "w") as f:
            json.dump(record, f, indent=1)
        result = {"correct": correct, "attempted": int(d["attempted"]),
                  "failed": int(d["failed"]),
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}}
    if not correct:
        for e in d.get("errors", [])[:10]:
            print(f"  error: {e}")
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
