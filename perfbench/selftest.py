#!/usr/bin/env python3
"""Self-tests of the benchmark's own pieces.

Usage (from the root of a checkout):  python3 perfbench/selftest.py [--quick]

1. Every generator gives byte-identical inputs for the same seed, and
   different inputs for another seed.
2. The metric code never times a failed operation: a failed operation
   adds no time to any end-to-end metric.
3. The independent checks reject wrong rows.
4. Planted faults in real runs (a thrown exception and a wrong answer,
   on a tally-checked and an oracle-checked operation) are counted as
   failed in every pass, while `correct` stays true.
   `--quick` skips these runs (they take a few minutes).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def digest(d):
    h = hashlib.sha1()
    for base, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generators():
    tmp = tempfile.mkdtemp(dir=HERE, prefix=".selftest-")
    try:
        for w in gen.SIZES:
            a, b, c = (os.path.join(tmp, f"{w}-{x}") for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            assert digest(a) == digest(b), f"{w}: same seed, different inputs"
            assert digest(a) != digest(c), f"{w}: another seed, same inputs"
            print(f"ok   generator {w} is a function of its seed")
    finally:
        shutil.rmtree(tmp)


def test_failed_ops_are_not_timed():
    def rec(name, t, ok=True):
        return {"name": name, "construct_s": t / 4, "action_s": 3 * t / 4, "ok": ok, "release_s": 0.0,
                "live_heap_mb": 100 * t}
    passes = [[rec("a", 4.0), rec("b", 2.0)]] + [[rec("a", 1.0 + i / 10), rec("b", 0.5)] for i in range(3)]
    raw = {"passes": passes, "warmup_passes": 1, "setup_s": 1.0, "cores": 4}
    clean = run.end_to_end(raw, {"a", "b"})
    # the same run where "c" fails at once in every pass
    for p in raw["passes"]:
        p.append(rec("c", 0.001, ok=False))
    failed = {r["name"] for p in raw["passes"] for r in p if not r["ok"]}
    good = {r["name"] for r in raw["passes"][0]} - failed
    assert run.end_to_end(raw, good) == clean, "a failed operation changed a timing"
    print("ok   a failed operation adds no time to any metric")


def test_checks_reject_wrong_results():
    import pandas as pd
    got = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    assert checks.compare(checks.norm(got), checks.norm(got.iloc[::-1])) is None
    assert checks.compare(checks.norm(got.iloc[:1]), checks.norm(got)) is not None
    assert checks.compare(checks.norm(got.assign(v=[0.5, 0.26])), checks.norm(got)) is not None
    print("ok   the independent checks reject wrong rows")


def planted(workload, plant, ops_per_pass):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", "0", "--plant", plant],
                       capture_output=True, text=True, timeout=200)
    assert p.returncode == 0, p.stderr[-2000:]
    r = json.loads(p.stdout.strip().splitlines()[-1])
    passes = r["attempted"] // ops_per_pass
    assert r["correct"] and r["failed"] == passes, f"{plant}: {r}"
    print(f"ok   planted {plant} on {workload}: failed {r['failed']} of {r['attempted']}, every pass")


def main():
    test_generators()
    test_failed_ops_are_not_timed()
    test_checks_reject_wrong_results()
    if "--quick" not in sys.argv:
        planted("mr_job", "throw:mr_pipe", 4)
        planted("mr_job", "wrong:mr_run", 4)
        planted("iterative", "wrong:cc_star", 1)
    print("all self-tests passed")


if __name__ == "__main__":
    main()
