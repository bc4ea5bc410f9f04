"""Run the benchmark once per seed and report each metric's median and its
spread: the distance between the first and third quartile of the runs,
as a share of the median (``statistics.quantiles(values, n=4)``).

    python3 perfbench/spread.py --workload weekly_dag --seeds 1-10 [--trace 1]

Runs go one after another from the current directory (a checkout root);
the last line is one JSON object with the per-metric figures, the share of
failed operations and the wall time of all runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()
    runs, walls = [], []
    for s in seeds(a.seeds):
        t = time.time()
        out = subprocess.run(
            [sys.executable, f"{HERE}/run.py", "--workload", a.workload, "--seed", str(s),
             "--seconds", str(a.seconds), "--trace", str(a.trace)],
            capture_output=True, text=True, timeout=600,
        )
        walls.append(time.time() - t)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        res = json.loads(last) if out.returncode == 0 else {}
        runs.append(res)
        passes = [ln for ln in out.stderr.splitlines() if ln.startswith("pass walls")]
        print(f"seed {s}: rc={out.returncode} wall={walls[-1]:.1f}s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()
                         if not a.trace)
              + (f" [{passes[-1]}]" if passes else ""),
              flush=True)
    ok = [r for r in runs if r]
    names = list(ok[0]["metrics"]) if ok else []
    summary = {
        "workload": a.workload,
        "runs": len(runs),
        "ok_runs": len(ok),
        "all_correct": all(r.get("correct") for r in ok),
        "failed_share": sorted({r["failed"] / r["attempted"] for r in ok}),
        "wall_s": sum(walls),
        "metrics": {
            n: {
                "median": statistics.median(r["metrics"][n]["value"] for r in ok),
                "spread": spread([r["metrics"][n]["value"] for r in ok]) if len(ok) > 1 else None,
            }
            for n in names
        },
    }
    print(json.dumps(summary))
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
