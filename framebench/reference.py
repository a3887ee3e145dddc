"""Regenerate the README's reference figures.

    python3 framebench/reference.py [--runs 10] [--seconds 8] [--workloads a,b]

For each workload: ``--runs`` untraced runs with seeds 1..runs, then one
traced run (seed 1).  Prints, per end-to-end metric, the median, the
first and third quartiles and the spread (IQR / median), then the traced
run's per-layer figures.  Run it from the repository root on an
otherwise idle host; nothing is cached between invocations except the
seeded inputs under framebench/.work.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["cutflow_scan", "query_lakehouse"]


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    cond = json.loads(out[-2].split("conditions: ", 1)[1])
    return json.loads(out[-1]), cond


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    for w in a.workloads.split(","):
        res = [run(w, seed, a.seconds, 0) for seed in range(1, a.runs + 1)]
        print(f"\n### {w}: {a.runs} untraced runs, seeds 1..{a.runs}\n")
        print("| metric | median | q1 | q3 | spread |")
        print("|---|---|---|---|---|")
        rows = [
            (f"{name} ({m['unit']})", [r["metrics"][name]["value"] for r, _ in res])
            for name, m in res[0][0]["metrics"].items()
        ] + [
            (f"breakdown {key}", [c["breakdown"][key] for _, c in res])
            for key in sorted(res[0][1]["breakdown"])
        ]
        for label, vals in rows:
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            spread = f"{(q3 - q1) / q2:.3f}" if q2 else "—"
            print(f"| {label} | {q2:.4g} | {q1:.4g} | {q3:.4g} | {spread} |")
        print("\n| seed | steal (setup) | setup wall / net s | steal (passes) | pass walls s |")
        print("|---|---|---|---|---|")
        for seed, (_, c) in enumerate(res, 1):
            print(
                f"| {seed} | {c['setup_steal_share']:.3f} | {c['setup_wall_s']:.2f} / "
                f"{c['setup_wall_s'] * (1 - c['setup_steal_share']):.2f} | "
                f"{' '.join(f'{x:.3f}' for x in c['pass_steal_shares'])} | "
                f"{' '.join(f'{x:.2f}' for x in c['pass_walls_s'])} |"
            )
        fails = sorted({(r["failed"], r["attempted"]) for r, _ in res})
        print(f"\ncorrect: {all(r['correct'] for r, _ in res)}; (failed, attempted): {fails}")
        steal = [c["steal_share"] for _, c in res]
        print(f"steal share: {min(steal):.3f}..{max(steal):.3f}")
        traced, _ = run(w, 1, a.seconds, 1)
        print(f"\ntraced run (seed 1), non-zero per-layer figures:\n")
        for name, m in traced["metrics"].items():
            if m["value"]:
                print(f"- `{name}` = {m['value']:.4g} {m['unit']}")


if __name__ == "__main__":
    main()
