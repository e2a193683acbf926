#!/usr/bin/env python3
"""The repository's benchmark: one named workload, one seed, one run.

    python3 perfbench/run.py --workload drain --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off. ``--trace
1`` measures the per-layer metrics instead (see ``layers.py``). The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it list every
metric with its unit and sample count. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

sys.path.insert(0, common.ROOT)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("drain", "trickle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import hidden_characters_detector_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {common.ROOT}: {e}",
              file=sys.stderr)
        return 2
    import layers
    import workloads

    scratch = os.path.join(common.OUT,
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    common.fresh_dir(scratch)
    common.pin_environment(scratch)
    try:
        if args.trace:
            metrics, attempted, failed = layers.traced(args, scratch)
        else:
            with common.RssSampler() as rss:
                metrics, out, _ = workloads.measure(
                    args.workload, args.seed, args.seconds, scratch)
                metrics["peak_rss_mb"] = (rss.peak / 2**20, 1)
            attempted, failed = out.attempted, out.failed
            workloads.save_baseline(args.workload, metrics)
    finally:
        common.shutdown()
        shutil.rmtree(scratch, ignore_errors=True)
    spec = common.load_spec()["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    for k in units:
        v, n = metrics[k]
        print(f"{args.workload} {k} = {v:.6g} {units[k]} (n={n})")
    print(f"{args.workload} failed operations: {failed}/{attempted} "
          f"({failed / attempted:.1%})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k][0], "unit": units[k]}
                    for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
