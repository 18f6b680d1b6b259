#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client driving `graft.SparkEntry.queries`.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload curate_batch --seed 1 --seconds 10 --trace 0

It builds the library and the benchmark's own JVM program with sbt (once per
source state; the classpath is cached under `.bench_build/`), derives the
run's inputs from the committed fixture with the seed, runs one JVM, checks
every output, and prints one JSON object as the last line of stdout. With
`--trace 0` the metrics are the end-to-end metrics, with `--trace 1` the
per-layer ones from a listener-traced run. Everything else the run learned
(host context, input sizes and fingerprints, per-kind breakdown, sidecar
metrics) goes to `.bench_build/results/<workload>-seed<seed>-trace<t>.json`.

Workload mixes live in `perfbench/spec.json`; metric names and units are
those of `BENCHMARK.json`. Exit codes: 0 when every
output checked correct, 1 when an output was wrong, 2 when the run could
not produce a result.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class RunError(Exception):
    pass


# ---- build -------------------------------------------------------------------

def _source_files():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    for f in ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"):
        yield os.path.join(ROOT, f)


def build() -> str:
    """Compile library and benchmark if the sources changed; return the classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise RunError(f"library source {need} not found next to perfbench/")
    h = hashlib.sha256()
    for f in _source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    cache = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp and all(
                os.path.exists(p) for p in c["classpath"].split(os.pathsep)):
            return c["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        raise RunError("sbt build timed out")
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise RunError("sbt build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, fh)
    return lines[-1]


# ---- host context ------------------------------------------------------------

def host_snapshot() -> dict:
    snap = {"time": time.time()}
    try:
        with open("/proc/loadavg") as fh:
            snap["loadavg"] = [float(x) for x in fh.read().split()[:3]]
        with open("/proc/stat") as fh:
            cpu = [int(x) for x in fh.readline().split()[1:]]
        snap["cpu_ticks"] = sum(cpu)
        snap["steal_ticks"] = cpu[7] if len(cpu) > 7 else 0
    except OSError:
        pass
    return snap


def host_context(start: dict, end: dict, cpus: int) -> dict:
    ctx = {"nproc": cpus, "master": f"local[{cpus}]", "driver_heap": HEAP,
           "start": start, "end": end}
    if "cpu_ticks" in start and "cpu_ticks" in end and end["cpu_ticks"] > start["cpu_ticks"]:
        ctx["steal_pct"] = 100.0 * (end["steal_ticks"] - start["steal_ticks"]) / (
            end["cpu_ticks"] - start["cpu_ticks"])
    return ctx


# ---- the JVM run -------------------------------------------------------------

def run_jvm(cp: str, w: dict, name: str, data: str, work: str, seconds: int,
            trace: int, cpus: int, deadline: float) -> dict:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(work, "result.json")
    args = {"workload": name, "data": data, "work": work, "out": out,
            "seconds": seconds, "trace": trace, "cpus": cpus}
    for k, v in w.items():
        args[k] = ",".join(v) if isinstance(v, list) else v
    cmd = ["java", "-cp", cp, *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_GRAFT_TMPFS="0", SPARK_GRAFT_CPUS=str(cpus))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RunError("benchmark JVM exceeded its time limit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RunError(f"benchmark JVM exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


# ---- metrics -----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def by_kind(calls):
    kinds = {}
    for c in calls:
        kinds.setdefault(c["kind"], []).append(c["wall_ms"])
    return kinds


def tail_ratio(calls):
    """Latency over its kind's median, pooled: the highest percentile that
    still has 10 samples beyond it."""
    kinds = by_kind(calls)
    ratios = sorted(c["wall_ms"] / median(kinds[c["kind"]]) for c in calls)
    n = len(ratios)
    if n < 11:
        return None
    return {"percentile": 100.0 * (n - 10) / n, "value": ratios[n - 11], "samples": n}


def end_to_end(res: dict, w: dict, checks: dict) -> tuple:
    timed = [c for c in res["calls"] if c["phase"] == "timed" and c["error"] is None]
    kinds = by_kind(timed)
    wall_s = sum(c["wall_ms"] for c in timed) / 1000.0
    e2e = {
        "setup_s": res["session_s"] + median(res["setup_pass_s"]),
        "ops_per_s": len(timed) / wall_s if wall_s > 0 else float("nan"),
        "query_s": geomean([median(v) for v in kinds.values()]) / 1000.0,
        "driver_heap_mb": res["heap_end_mb"],
    }
    extra = {"kind_median_ms": {k: median(v) for k, v in kinds.items()},
             "kind_wall_ms": kinds,
             "tail_x": tail_ratio(timed)}
    if w["mode"] == "lifecycle":
        def cls_med(cls):
            return [median(v) / 1000.0 for k, v in kinds.items() if k.endswith("." + cls)]
        builds = [c for c in res["calls"] if c["cls"] == "build" and c["error"] is None]
        extra.update({
            "build_s": sum(cls_med("build")),
            "serve_s": geomean(cls_med("serve")),
            "append_s": geomean(cls_med("append")),
            "artifact_bytes_per_cold_build": {f: median([c["artifact_bytes_written"] for c in builds
                                                         if c["family"] == f])
                                              for f in {c["family"] for c in builds}},
            "recall_at_10": checks.get("recall_at_10")})
    return e2e, extra


def per_layer(res: dict) -> tuple:
    """Per-layer metrics, per traced round of the mix (plus the probes)."""
    calls = res["calls"]
    spans = {s["span"]: s for s in res["trace"]["spans"]}
    rounds = max(1, len({c["round"] for c in calls if c["phase"] == "timed" and c["traced"]}))
    traced = [c for c in calls if c["phase"] == "timed" and c["traced"]]
    untraced = [c for c in calls if c["phase"] == "timed" and not c["traced"]]
    probe = [c for c in calls if c["phase"] == "probe"]
    cpus = int(res["cpus"])

    def total(cs, field):
        return sum(spans.get(c["span"], {}).get(field, 0) for c in cs)

    def per_round(field):
        return total(traced, field) / rounds

    m = {
        "sql.analysis_ms": per_round("sql_analysis_ms"),
        "sql.optimizer_ms": per_round("sql_optimizer_ms"),
        "sql.planning_ms": per_round("sql_planning_ms"),
        "sql.executions": per_round("sql_executions"),
        "sched.jobs": per_round("jobs"), "sched.stages": per_round("stages"),
        "sched.tasks": per_round("tasks"),
        "sched.critical_path_ms": per_round("crit_ms"),
        "sched.floor_ms": (sum(c["wall_ms"] for c in traced) - total(traced, "crit_ms")) / rounds,
        "exec.run_ms": per_round("run_ms"), "exec.cpu_ms": per_round("cpu_ms"),
        "exec.gc_ms": per_round("gc_ms"),
        "shuffle.write_bytes": per_round("shuffle_write_bytes"),
        "shuffle.read_bytes": per_round("shuffle_read_bytes"),
        "shuffle.records": per_round("shuffle_records"),
        "shuffle.fetch_wait_ms": per_round("fetch_wait_ms"),
        "shuffle.spill_bytes": per_round("spill_bytes"),
        "sources.input_bytes": per_round("input_bytes"),
        "sources.input_rows": per_round("input_rows"),
        "engine.cut_jobs": per_round("cut_jobs"), "engine.cut_ms": per_round("cut_ms"),
    }
    wall = sum(c["wall_ms"] for c in traced)
    m["sched.idle_slot_pct"] = 100.0 * (1 - m["exec.run_ms"] * rounds / (wall * cpus)) if wall else 0.0
    m["exec.blocked_ms"] = m["exec.run_ms"] - m["exec.cpu_ms"] - m["exec.gc_ms"]
    m["sources.scan_ms"] = sum(res["probes"].get("scan_ms", {}).values())
    kern = [c for c in probe if c["cls"] == "kernel"]
    krows = total(kern, "input_rows")
    m["functions.ns_per_row"] = total(kern, "cpu_ms") * 1e6 / krows if krows else 0.0

    # staged artifacts (lifecycle): cold minus warm medians per family
    fam = {}
    for c in traced:
        fam.setdefault(c["family"], {}).setdefault(c["cls"], []).append(c["wall_ms"])
    m["staging.build_ms"] = sum(
        median(d["build"]) - median([x for k, xs in d.items() if k != "build" for x in xs])
        for d in fam.values() if "build" in d and len(d) > 1)
    m["staging.serve_ms"] = sum(median(d["serve"]) for d in fam.values() if "serve" in d)
    m["staging.append_ms"] = sum(median(d["append"]) for d in fam.values() if "append" in d)
    m["staging.bytes_written"] = sum(c["artifact_bytes_written"] for c in traced) / rounds
    m["staging.artifact_bytes"] = res["artifact_bytes_total"]
    m["staging.cold_builds"] = sum(1 for c in calls if c["cls"] == "build" and c["error"] is None)

    # streaming: every span that ran micro-batches (the stream probes)
    st = [s for s in spans.values() if s.get("stream_batches", 0) > 0]
    m["stream.batches"] = sum(s["stream_batches"] for s in st)
    m["stream.batch_p50_ms"] = median([x for s in st for x in s["stream_batch_ms"]]) if st else 0.0
    for k in ("add_batch_ms", "get_batch_ms", "wal_commit_ms", "commit_offsets_ms",
              "query_planning_ms", "input_rows", "state_rows", "state_mem_bytes", "state_commit_ms"):
        m["stream." + k] = sum(s["stream_" + k] for s in st)

    heap = res["probes"].get("heap_retained_mb", {})
    m["driver.heap_retained_mb"] = sum(heap.values())
    m["driver.heap_growth_mb"] = res["heap_end_mb"] - res["heap_start_mb"]
    on, off = sum(c["wall_ms"] for c in traced), sum(c["wall_ms"] for c in untraced)
    m["trace_overhead_pct"] = 100.0 * (on / off - 1) if off else 0.0

    breakdown = {}
    for c in traced + probe:
        s = spans.get(c["span"], {})
        b = breakdown.setdefault(c["kind"], {"calls": 0, "wall_ms": 0.0})
        b["calls"] += 1
        b["wall_ms"] += c["wall_ms"]
        for k, v in s.items():
            if isinstance(v, (int, float)) and k != "span":
                b[k] = b.get(k, 0) + v
        b["floor_ms"] = b["wall_ms"] - b.get("crit_ms", 0)
    kernels = {}
    for c in kern:
        s = spans.get(c["span"], {})
        kernels.setdefault(c["kind"], [0.0, 0])
        kernels[c["kind"]][0] += s.get("cpu_ms", 0)
        kernels[c["kind"]][1] += s.get("input_rows", 0)
    extra = {"per_kind": breakdown,
             "functions_ns_per_row": {k: (v[0] * 1e6 / v[1] if v[1] else None)
                                      for k, v in kernels.items()},
             "heap_retained_mb": heap, "scan_ms": res["probes"].get("scan_ms", {}),
             "unattributed_jobs": res["trace"]["unattributed_jobs"],
             "unattributed_executions": res["trace"]["unattributed_executions"]}
    return m, extra


# ---- main --------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="derive the inputs from the small sf0.001 fixture")
    ap.add_argument("--expected-hash", action="append", default=[], metavar="QUERY=HASH",
                    help="replace the oracle's expected hash (tests the check itself)")
    a = ap.parse_args(argv)

    with open(os.path.join(BENCH, "spec.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if a.workload not in spec["workloads"]:
        raise RunError(f"unknown workload {a.workload}")
    w = spec["workloads"][a.workload]
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

    cp = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    h0 = host_snapshot()
    work = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        fixture = os.path.join(BENCH, spec["smoke_fixture" if a.smoke else "fixture"])
        inputs = gen.generate(fixture, data, a.seed)
        fp = gen.fingerprint(data)
        phases = {"generate_s": time.time() - t_start}
        res = run_jvm(cp, w, a.workload, data, work, a.seconds, a.trace, cpus, deadline)
        phases["jvm_s"] = time.time() - t_start - phases["generate_s"]
        overrides = dict(x.split("=", 1) for x in a.expected_hash)
        checks = oracle.check(data, os.path.join(work, "dumps"), res, w, overrides)
        phases["check_s"] = time.time() - t_start - phases["generate_s"] - phases["jvm_s"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    h1 = host_snapshot()

    attempted = len(res["calls"])
    failures = list(res["failures"]) + checks["failures"]
    failed_calls = sum(1 for c in res["calls"] if c["error"] is not None)
    # a call that failed has no output, so its oracle check fails too
    failed = min(attempted, failed_calls + len(checks["failures"]))
    correct = not failures
    metrics, extra = per_layer(res) if a.trace else end_to_end(res, w, checks)
    group = declared["per_layer" if a.trace else "end_to_end"]
    missing = {m["name"] for m in group} - set(metrics)
    if missing:
        raise RunError(f"metrics declared in BENCHMARK.json but not measured: {sorted(missing)}")
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in group}
    extra["error_rate"] = failed / attempted if attempted else 1.0
    sidecar = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": dict(host_context(h0, h1, cpus), driver_max_heap_mb=res["max_heap_mb"]),
        "inputs": {"fixture": os.path.relpath(fixture, ROOT), "tables": inputs, "fingerprint": fp},
        "loop": spec["loop"], "rounds": res["rounds"], "timed_s": res["timed_s"],
        "session_s": res["session_s"], "setup_pass_s": res["setup_pass_s"], "phases": phases,
        "metrics": out, "extra": extra, "checks": checks, "failures": failures,
    }
    os.makedirs(os.path.join(BUILD_DIR, "results"), exist_ok=True)
    side = os.path.join(BUILD_DIR, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(side, "w") as fh:
        json.dump(sidecar, fh, indent=1, default=str)
    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({"sidecar": os.path.relpath(side, ROOT), "inputs": {
        "fingerprint": fp, "bytes": sum(t["bytes"] for t in inputs.values())}, "extra": {
        k: v for k, v in extra.items() if k not in ("per_kind", "kind_wall_ms")}}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
