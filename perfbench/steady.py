"""Run one workload over several seeds and report, per end-to-end
metric, the median and the quartile spread (Q3 - Q1) / median:

    python3 perfbench/steady.py --workload gates --seeds 1-10 --seconds 8

Each run is a fresh ``run.py`` process from the checkout root.  Prints one
JSON line per run, then a summary; exits non-zero if any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import spread

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    a, _, b = text.partition("-")
    return list(range(int(a), int(b) + 1)) if b else [int(a)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    walls, bad = [], 0
    for s in seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(s), "--seconds", args.seconds,
             "--trace", args.trace],
            cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True,
        )
        walls.append(time.perf_counter() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            bad += 1
            print(json.dumps({"seed": s, "exit": p.returncode}))
            continue
        out = json.loads(lines[-1])
        bad += not out["correct"]
        print(json.dumps({"seed": s, "wall_s": round(walls[-1], 1), **out}), flush=True)
        for k, m in out["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    summary = {
        k: {"median": statistics.median(v),
            "spread": spread(v) if len(v) >= 2 else None}
        for k, v in values.items()
    }
    print(json.dumps({"workload": args.workload, "runs": len(walls),
                      "bad": bad, "wall_s_mean": statistics.mean(walls),
                      "metrics": summary}, indent=1))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
