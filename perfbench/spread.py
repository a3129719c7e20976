#!/usr/bin/env python3
"""Run one workload over several seeds and report, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload jq_extract --seeds 1-10 --seconds 20

Run from the root of a graft checkout; the runs are the same as run.py's.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import report  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", help="append each result line to this file")
    args = ap.parse_args()
    values = {}
    bad = 0
    for s in seeds(args.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(s), "--seconds", args.seconds, "--trace", args.trace],
                           capture_output=True, text=True, check=False)
        if p.returncode != 0:
            print("seed %d: exit %d\n%s" % (s, p.returncode, p.stderr[-2000:]), file=sys.stderr)
            bad += 1
            continue
        res = report.parse_result_line(p.stdout)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": s, "result": res}) + "\n")
        if not res["correct"]:
            bad += 1
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print("seed %d: correct=%s %s" % (s, res["correct"], " ".join(
            "%s=%.4g" % (k, m["value"]) for k, m in res["metrics"].items())), flush=True)
    for k, vs in values.items():
        if len(vs) >= 2:
            print("%-20s median %-12.5g spread %.3f" % (k, statistics.median(vs), report.quartile_spread(vs)))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
