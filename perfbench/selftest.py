#!/usr/bin/env python3
"""Self-test of the benchmark command.

    python3 perfbench/selftest.py

Runs one measured pass of each workload on the sf0.001 fixture and checks
that the last stdout line parses and carries every end-to-end metric of
BENCHMARK.json with its unit; makes one traced run and checks the
per-layer metrics the same way; then corrupts one expected digest and
checks that the run reports the mismatch by query name and counts it as
failed, so the checker is shown able to fail. Exits 0 only if all hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "sf0.001"
VICTIM = "s04_filtered_stats"  # a query of the batch workload


def run(workload, trace="0", expected=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "0", "--trace", trace, "--scale", SCALE, "--passes", "1"]
    if expected:
        cmd += ["--expected", expected]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {r.returncode}: {r.stderr[-2000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), r.stdout


def check_metrics(result, spec, what):
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    assert got == want, f"{what}: metrics {got} != {want}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]

    for w in workloads:
        res, _ = run(w)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{w}: {res}"
        check_metrics(res, bench["end_to_end"], w)
        print(f"[selftest] {w}: end-to-end metrics ok, {res['attempted']} queries correct")

    res, out = run(workloads[-1], trace="1")
    check_metrics(res, bench["per_layer"], f"{workloads[-1]} traced")
    assert "self time per traced pass" in out, "traced run printed no self-time table"
    print(f"[selftest] {workloads[-1]}: per-layer metrics and self-time table ok")

    # the checker must be able to fail: change one digest the batch
    # workload checks, and expect that query to be named and counted
    expected = os.path.join(HERE, "expected", f"{SCALE}.tsv")
    with open(expected) as fh:
        lines = fh.read().splitlines()
    corrupt = [l if not l.startswith(VICTIM + "\t") else l[:-1] + str((int(l[-1]) + 1) % 10) for l in lines]
    assert corrupt != lines, f"{VICTIM} has no expected digest"
    path = os.path.join(ROOT, ".bench_build", "perfbench", "selftest-corrupt.tsv")
    with open(path, "w") as fh:
        fh.write("\n".join(corrupt) + "\n")
    res, out = run("batch", expected=path)
    assert not res["correct"] and res["failed"] >= 1, f"corrupted digest not reported: {res}"
    assert f"MISMATCH {VICTIM}" in out, f"mismatch not named for {VICTIM}"
    print(f"[selftest] corrupted digest of {VICTIM} reported: failed={res['failed']}")
    print("[selftest] ok")


if __name__ == "__main__":
    main()
