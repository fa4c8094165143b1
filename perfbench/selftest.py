"""Self-tests of the benchmark's Python side, then of its JVM side
(perfbench.SelfTest). Run with: python3 perfbench/run.py --selftest
"""
import json
import os
import subprocess
import sys
import tempfile

import gen
import run


def _check(name, ok):
    print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if ok else 1


def _digests(d):
    import hashlib
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def main(root, classpath):
    bad = 0
    scratch = os.path.join(root, ".bench_out")
    os.makedirs(scratch, exist_ok=True)
    # ---- failure accounting: an op that threw, and every timed run of an
    # op whose output check failed, count as failed
    res = {"threw": "1", "op_counts": {"q_a": "3", "q_b": "3"}, "errors": {"q_a": "boom"}}
    bad += _check("threw op counts once per failed run", run.failed_ops(res, {}) == 1)
    bad += _check("check failure fails every run of the op", run.failed_ops(res, {"q_b": "x"}) == 4)
    bad += _check("a thrown op is not counted twice", run.failed_ops(res, {"q_a": "x"}) == 1)

    # ---- generators: same seed, same bytes; other seed, other bytes
    with tempfile.TemporaryDirectory(dir=scratch) as t:
        for s, d in ((5, "a"), (5, "b"), (6, "c")):
            gen.tables(s, os.path.join(t, d))
            gen.landmark_meta(s, os.path.join(t, d + "l"), 12)
        a, b, c = (_digests(os.path.join(t, d)) for d in "abc")
        bad += _check("same seed gives identical tables", a == b)
        bad += _check("other seed changes every random table",
                      all(a[f] != c[f] for f in a if f not in ("region.parquet", "nation.parquet")))
        la, lb, lc = (_digests(os.path.join(t, d + "l")) for d in "abc")
        bad += _check("same seed gives identical landmark inputs", la == lb)
        bad += _check("other seed gives other landmark inputs", la != lc)

    # ---- BENCHMARK.json names exactly the metrics the runner reports
    spec_path = os.path.join(root, "BENCHMARK.json")
    if os.path.exists(spec_path):
        spec = json.load(open(spec_path))
        bad += _check("end-to-end metrics match BENCHMARK.json",
                      {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END)
        bad += _check("per-layer metrics match BENCHMARK.json",
                      {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER)
        bad += _check("workloads match BENCHMARK.json",
                      tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS)

    with tempfile.TemporaryDirectory(dir=scratch) as t:
        rc = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={t}", run.LOG_CONFIG] + run.ADD_OPENS +
                            ["-cp", classpath, "perfbench.SelfTest"], cwd=t).returncode
    bad += _check("JVM self-tests", rc == 0)
    print("all passed" if bad == 0 else f"{bad} failed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit("run through: python3 perfbench/run.py --selftest")
