"""Print every metric of every workload: one untraced and one traced run each.

    python3 perfbench/report.py [--seed 1]

Run from the repository root.  Each run is a separate ``run.py``
process measuring ``run_seconds`` from ``BENCHMARK.json``.  For each
workload this prints the end-to-end metrics with unit and sample count,
the error rate with every failing gate named, every per-layer metric of
the traced run, per gate its wall time, the share of it spent in the
action phase, its executor task time and its job counts, and the
tracing overhead (traced wall_s minus untraced wall_s).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from mixes import MIXES  # noqa: E402
from run import ROOT, invoke  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    for w in MIXES:
        _, plain = invoke(w, args.seed, seconds, 0)
        _, traced = invoke(w, args.seed, seconds, 1)
        print(f"== {w} (seed {args.seed}, {len(MIXES[w])} gates, scale {plain['scale']})")
        for name, m in plain["metrics"].items():
            print(f"  {name:28s} {m['value']:16.6f} {m['unit']:6s} n={m['n']}")
        for res in (plain, traced):
            gates = res["gates"]
            print(f"  {'error_rate':28s} {len(res['failures']) / len(gates):16.6f} ratio  "
                  f"n={len(gates)} ({'traced' if res['trace'] else 'untraced'} run)")
            for gid, why in res["failures"]:
                print(f"    FAILED {gid}: {why}")
        wall = plain["metrics"]["wall_s"]["value"]
        over = traced["traced_wall_s"] - wall
        print(f"  tracing overhead: {over:+.3f} s ({over / wall:+.1%} of untraced wall_s)")
        print("  per layer, per pass (traced run):")
        for name, m in traced["metrics"].items():
            print(f"    {name:28s} {m['value']:16.6f} {m['unit']}")
        print("  per gate (traced run): wall s, action share of wall, executor task s,"
              " jobs in the gate's window, jobs with no group")
        for g in traced["gates"]:
            e = g["engine"]
            print(f"    {g['id']:36s} {g['wall']:8.3f} {g.get('action', 0.0) / g['wall']:6.1%} "
                  f"{e.get('executor_run_s', 0):8.3f} {e.get('jobs', 0):5d} "
                  f"{e.get('jobs_untagged', 0):5d}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
