#!/usr/bin/env python3
"""Run all four workloads untraced, one after another, and print every
end-to-end metric by name and unit under the workload it belongs to.

    python3 perfbench/all.py [--seed <n>] [--seconds <s>]     # ~6 min on 4 cores

Exits non-zero if any run fails or any output check fails.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["daily_medallion", "ann_ladders", "store_churn", "alert_stream"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", default="1")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    ok = True
    for w in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", args.seed, "--seconds", args.seconds, "--trace", "0"],
            stdout=subprocess.PIPE, text=True)
        lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
        report = next((l["report"] for l in lines if "report" in l), None)
        result = lines[-1] if lines else {}
        if out.returncode != 0 or report is None:
            print(f"{w}: run failed ({out.returncode})")
            ok = False
            continue
        ok &= bool(result.get("correct"))
        print(f"{w}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}")
        for name, m in report.items():
            print(f"  {name:30} {m['value']:>16.6g} {m['unit']}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
