#!/usr/bin/env python3
"""Host-local benchmark of the gridmrspark engine.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use, generates
the workload's inputs from the seed (cached per seed), runs one JVM
with `local[k]` (k = min(4, cores)), checks every operation's result
against a computation made apart from the engine, and prints one JSON
object as the last line of standard output:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")
DEADLINE_S = 170          # a run must end within 180 s
CACHED_SEEDS = 4          # input sets kept per workload
JVM_HEAP = "3g"
# Operations built on a candidate join (blocking keys -> bucket join ->
# exact verification); the candidate layer is read from these only.
CANDIDATE_OPS = {"cc_star"}

# What the engine's JVM needs when it is not started by spark-submit
# (the same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from this checkout."""
    out = [os.path.join(ROOT, f) for f in ("build.sbt", "project/build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out


def build():
    """Compiles engine and harness once per source state; returns the classpath."""
    h = hashlib.sha1()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (see {log})", 3)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1])
    return cps[-1]


def inputs(workload, seed):
    """The workload's inputs for the seed, generated on first use; the
    cache key includes the generator's source, so a changed generator
    never reuses old inputs."""
    os.makedirs(CACHE, exist_ok=True)
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:8]
    d = os.path.join(CACHE, f"{workload}-{seed}-{version}")
    if not os.path.isdir(d):
        old = sorted((p for p in os.listdir(CACHE) if p.startswith(workload + "-")),
                     key=lambda p: os.path.getmtime(os.path.join(CACHE, p)))
        for p in old[:max(0, len(old) - CACHED_SEEDS + 1)]:
            shutil.rmtree(os.path.join(CACHE, p), ignore_errors=True)
        gen.generate(workload, seed, d)
    os.utime(d)
    return d


def run_jvm(cp, workload, data, out, seconds, trace, plant, deadline):
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={out}/tmp", f"-Dspark.local.dir={out}/tmp",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--data", data, "--out", out,
            "--scripts", os.path.join(HERE, "mr"), "--seconds", str(seconds),
            "--trace", "1" if trace else "0"]
    if plant:
        cmd += ["--plant", plant]
    os.makedirs(f"{out}/tmp", exist_ok=True)
    with open(f"{out}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload}: the run did not end in time (log {out}/jvm.log)", 4)
    if rc != 0 or not os.path.exists(f"{out}/raw.json"):
        fail(f"{workload}: the harness exited with {rc} (log {out}/jvm.log)", 4)
    with open(f"{out}/raw.json") as f:
        return json.load(f)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw, good):
    """The five end-to-end metrics over the operations that never failed."""
    passes = raw["passes"]

    def t(r):
        return r["construct_s"] + r["action_s"]
    warm = passes[1 + raw["warmup_passes"]:]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "first_pass_s": (sum(t(r) for r in passes[0] if r["name"] in good), "s"),
        "wall_s": (med([sum(t(r) for r in p if r["name"] in good) for p in warm]), "s"),
        "job_p50_s": (med([med([t(r) for p in warm for r in p if r["name"] == n]) for n in good]), "s"),
        "peak_heap_mb": (max((r["live_heap_mb"] for r in passes[raw["warmup_passes"]] if r["name"] in good), default=0.0), "MB"),
    }


def per_layer(raw, good):
    """Per-layer metrics of a traced run: per warm pass, median over passes."""
    warm = raw["passes"][1 + raw["warmup_passes"]:]
    cores = raw["cores"]
    MB = 1048576.0

    def ex(r, k):
        return r.get("construct_exec", {}).get(k, 0) + r.get("action_exec", {}).get(k, 0)

    def per_pass(f):
        return med([f([r for r in p if r["name"] in good]) for p in warm])

    def op(rs, name, f):
        return sum(f(r) for r in rs if r["name"] == name)

    def wall(rs):
        return sum(r["construct_s"] + r["action_s"] for r in rs)

    def ratio(a, b):
        return a / b if b else 0.0
    m = {
        "operators.construct_s": (per_pass(lambda rs: sum(r["construct_s"] for r in rs)), "s"),
        "operators.construct_jobs": (per_pass(lambda rs: sum(r.get("construct_exec", {}).get("jobs", 0) for r in rs)), "count"),
        "operators.construct_share": (per_pass(lambda rs: ratio(sum(r["construct_s"] for r in rs), wall(rs))), "ratio"),
        "statemode.cuts": (per_pass(lambda rs: sum(r.get("cuts", 0) for r in rs)), "count"),
        "statemode.release_s": (per_pass(lambda rs: sum(r["release_s"] for r in rs)), "s"),
        "catalyst.analysis_s": (per_pass(lambda rs: sum(r.get("phase_analysis_ms", 0) for r in rs) / 1e3), "s"),
        "catalyst.optimization_s": (per_pass(lambda rs: sum(r.get("phase_optimization_ms", 0) for r in rs) / 1e3), "s"),
        "catalyst.planning_s": (per_pass(lambda rs: sum(r.get("phase_planning_ms", 0) for r in rs) / 1e3), "s"),
        "sources.scan_s": (raw.get("scan_s", 0.0), "s"),
        "sources.read_mb": (per_pass(lambda rs: sum(ex(r, "input_bytes") for r in rs) / MB), "MB"),
        "sources.write_mb": (per_pass(lambda rs: sum(ex(r, "output_bytes") for r in rs) / MB), "MB"),
        "sources.write_s": (per_pass(lambda rs: op(rs, "mr_run", lambda r: r["action_s"])), "s"),
        "mr.run_s": (per_pass(lambda rs: op(rs, "mr_run", lambda r: r["construct_s"] + r["action_s"])), "s"),
        "mr.pipe_s": (per_pass(lambda rs: op(rs, "mr_pipe", lambda r: r["construct_s"] + r["action_s"])), "s"),
        "mr.map_records": (per_pass(lambda rs: op(rs, "mr_run", lambda r: ex(r, "shuffle_records"))), "count"),
        "mr.reduce_keys": (per_pass(lambda rs: op(rs, "mr_run", lambda r: r.get("rows", 0))), "count"),
        "candidate.pairs": (per_pass(lambda rs: sum(r.get("candidate_rows", 0) for r in rs if r["name"] in CANDIDATE_OPS)), "count"),
        "candidate.verified": (per_pass(lambda rs: sum(r.get("verified_rows", 0) for r in rs if r["name"] in CANDIDATE_OPS)), "count"),
        "exec.jobs": (per_pass(lambda rs: sum(ex(r, "jobs") for r in rs)), "count"),
        "exec.stages": (per_pass(lambda rs: sum(ex(r, "stages") for r in rs)), "count"),
        "exec.tasks": (per_pass(lambda rs: sum(ex(r, "tasks") for r in rs)), "count"),
        "exec.s_per_job": (per_pass(lambda rs: ratio(wall(rs), sum(ex(r, "jobs") for r in rs))), "s"),
        "exec.task_busy_s": (per_pass(lambda rs: sum(ex(r, "busy_ms") for r in rs) / 1e3), "s"),
        "exec.task_cpu_s": (per_pass(lambda rs: sum(ex(r, "cpu_ns") for r in rs) / 1e9), "s"),
        "exec.gc_s": (per_pass(lambda rs: sum(ex(r, "gc_ms") for r in rs) / 1e3), "s"),
        "exec.core_util": (per_pass(lambda rs: ratio(sum(ex(r, "busy_ms") for r in rs) / 1e3, wall(rs) * cores)), "ratio"),
        "exec.shuffle_write_mb": (per_pass(lambda rs: sum(ex(r, "shuffle_write") for r in rs) / MB), "MB"),
        "exec.shuffle_read_mb": (per_pass(lambda rs: sum(ex(r, "shuffle_read") for r in rs) / MB), "MB"),
        "exec.spill_mb": (per_pass(lambda rs: sum(ex(r, "spill") for r in rs) / MB), "MB"),
        "exec.stage_skew": (per_pass(lambda rs: max([max(r.get("construct_exec", {}).get("skew", 0),
                                                         r.get("action_exec", {}).get("skew", 0)) for r in rs] or [0])), "ratio"),
        "trace.wall_s": (per_pass(wall), "s"),
    }
    m["candidate.useful_ratio"] = (ratio(m["candidate.verified"][0], m["candidate.pairs"][0]), "ratio")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", help="self-test fault: throw:OP or wrong:OP")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args(argv)
    deadline = time.time() + DEADLINE_S

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of an engine checkout ({need} is missing)")
    cp = build()
    data = inputs(a.workload, a.seed)
    out = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        raw = run_jvm(cp, a.workload, data, out, a.seconds, a.trace == 1, a.plant, deadline)
        verdicts, correct = checks.external(a.workload, data, out, raw)
        failed_ops = {r["name"] for p in raw["passes"] for r in p if not r["ok"]} | set(verdicts)
        for name, why in sorted(verdicts.items()):
            print(f"perfbench: failed {why}", file=sys.stderr)
        attempted = sum(len(p) for p in raw["passes"])
        failed = sum(1 for p in raw["passes"] for r in p
                     if not r["ok"] or r["name"] in verdicts)
        good = {r["name"] for r in raw["passes"][0]} - failed_ops
        metrics = per_layer(raw, good) if a.trace else end_to_end(raw, good)
        if a.keep:
            print(f"perfbench: run directory {out}", file=sys.stderr)
    finally:
        if not a.keep:
            shutil.rmtree(out, ignore_errors=True)
    for k, (v, u) in metrics.items():
        print(f"{a.workload} {k} = {v:.6g} {u}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
