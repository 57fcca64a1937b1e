#!/usr/bin/env python3
"""The benchmark's own test, in smoke mode: sf0.001 tables and a tiny
frontier, each workload once untraced and once traced.

Usage, from the root of a checkout: python3 perfbench/smoke_test.py

Asserts that every metric BENCHMARK.json names is printed with its unit,
that nothing fails at HEAD, and that a deliberately wrong expected digest is
counted in `failed` and in `failed_frac`.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["attempted"] >= 1, res
    return res


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values()), res
            assert res["failed"] == 0 and res["correct"], f"{w} trace={trace}: {res['failed']} failed"
            print(f"ok {w} trace={trace}: {len(got)} metrics, {res['attempted']} operations")
    with open(os.path.join(BENCH, "catalog_split.tsv")) as f:
        victim = next(l.split("\t")[0] for l in f if "\tcatalog_analytics\t" in l and l.rstrip().endswith("\t1"))
    res = run("catalog_analytics", 1, "--corrupt-digest", victim)
    frac = res["metrics"]["failed_frac"]["value"]
    assert res["failed"] >= 1 and not res["correct"] and frac > 0, res
    print(f"ok wrong digest for {victim}: {res['failed']} of {res['attempted']} failed, failed_frac {frac}")


if __name__ == "__main__":
    main()
