#!/usr/bin/env python3
"""Smoke check of the benchmark at a tiny input size.

Runs every workload (the ones BENCHMARK.json lists and edf_window_reads)
untraced and traced with `--scale smoke`, and asserts that each run exits 0,
that its output checks pass, and that its last stdout line names exactly the
metrics BENCHMARK.json declares for that mode, each with its declared unit
and a finite value.

Usage, from the checkout root: python3 perfbench/smoke.py
"""
import json
import math
import os
import subprocess
import sys


def main():
    spec = json.load(open("BENCHMARK.json"))
    workloads = [w["name"] for w in spec["workloads"]]
    if "edf_window_reads" not in workloads:
        workloads.append("edf_window_reads")
    expected = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
                "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in workloads:
        for trace in ("0", "1"):
            cmd = spec["command"] + ["--workload", w, "--seed", "7", "--seconds", "1",
                                     "--trace", trace, "--scale", "smoke"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            tag = f"{w} trace={trace}"
            before = len(problems)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not (res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{tag}: correct={res['correct']} attempted={res['attempted']} "
                                f"failed={res['failed']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != expected[trace]:
                missing = sorted(set(expected[trace]) - set(got))
                extra = sorted(set(got) - set(expected[trace]))
                units = sorted(k for k in got if k in expected[trace] and got[k] != expected[trace][k])
                problems.append(f"{tag}: missing {missing} extra {extra} wrong units {units}")
            bad = [k for k, v in res["metrics"].items()
                   if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
            if bad:
                problems.append(f"{tag}: non-numeric values {bad}")
            print(f"{'ok  ' if len(problems) == before else 'FAIL'} {tag}: {len(got)} metrics, "
                  f"attempted {res['attempted']}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke: " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    if not os.path.isfile("BENCHMARK.json"):
        sys.exit("run from the checkout root (BENCHMARK.json not found)")
    sys.exit(main())
