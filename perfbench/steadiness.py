#!/usr/bin/env python3
"""Steadiness evidence: run the benchmark once per seed, in separate
processes, and report each end-to-end metric's median, quartiles and
spread (interquartile distance as a share of the median) per workload.

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/evidence/set1.json
    python3 perfbench/steadiness.py --compare perfbench/evidence/set1.json perfbench/evidence/set2.json

Spreads are compared with the bounds in ``BENCHMARK.json`` (``setup_s`` is
reported but has no spread gate); ``--compare`` also checks that the second
set's median is not worse than the first's by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}:\n{p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.time() - t0
    return res


def summarise(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2}


def measure(bench: dict, workloads: list[str], spec: str,
            seconds: int) -> dict:
    report = {"seconds": seconds, "seeds": spec, "workloads": {}}
    for w in workloads:
        runs = [one_run(w, s, seconds) for s in seeds(spec)]
        report["workloads"][w] = {
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "wall_s": summarise([r["wall_s"] for r in runs]),
            "metrics": {m["name"]: summarise(
                [r["metrics"][m["name"]]["value"] for r in runs])
                for m in bench["end_to_end"]}}
    return report


def check(bench: dict, a: dict, b: dict | None = None) -> bool:
    """Print each spread against its bound (and, with ``b``, the shift of
    the median from ``a`` to ``b``); True if all are within the bounds."""
    ok = True
    for w, per in a["workloads"].items():
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [per] + ([b["workloads"][w]] if b else [])
            spreads = [s["metrics"][name]["spread"] for s in sets]
            line = (f"{w:8s} {name:14s} median "
                    + " / ".join(f"{s['metrics'][name]['median']:10.4f}"
                                 for s in sets)
                    + "  spread " + " / ".join(f"{x:.3f}" for x in spreads)
                    + f"  bound {bound}")
            if name != "setup_s":
                ok &= all(x <= bound for x in spreads)
            if b:
                m1 = per["metrics"][name]["median"]
                m2 = b["workloads"][w]["metrics"][name]["median"]
                worse = (m1 - m2) / m1 if m["better"] == "higher" \
                    else (m2 - m1) / m1
                ok &= worse <= bound
                line += f"  second worse by {worse:+.3f}"
            print(line)
        print(f"{w:8s} failed " + " / ".join(
            f"{s['failed']}/{s['attempted']}" for s in sets)
            + ", run wall median " + " / ".join(
            f"{s['wall_s']['median']:.1f} s" for s in sets))
    print("within bounds" if ok else "NOT within bounds")
    return ok


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        return 0 if check(bench, a, b) else 1
    report = measure(bench, args.workloads, args.seeds, args.seconds)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if check(bench, report) else 1


if __name__ == "__main__":
    sys.exit(main())
