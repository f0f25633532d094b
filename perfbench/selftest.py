"""Fast self-test of the benchmark: one traced pass of every mix.

    python3 perfbench/selftest.py

Run from the repository root; it takes a few minutes.  For every mix it
makes one traced run of a single pass and checks that
- the run exits 0 and its last line is a result with every declared
  per-layer metric;
- every gate's output matched its DuckDB oracle;
- the span accounting holds: every span is closed inside its parent,
  and the self times of a gate's spans sum to no more than the gate's
  wall time;
- every job a gate tagged with its job group was counted in that gate's
  time window, so the window count misses none of them.
One untraced run checks the end-to-end result line the same way.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from mixes import MIXES  # noqa: E402
from run import ROOT, WORK, invoke  # noqa: E402
from spans import self_times  # noqa: E402

SEED = 1
EPS = 1e-6


def check_line(workload: str, line: dict, kind: str) -> None:
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())[kind]
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, line.keys()
    assert line["correct"] is True and line["failed"] == 0, (workload, line)
    assert line["attempted"] == len(MIXES[workload]), (workload, line["attempted"])
    assert [m["name"] for m in declared] == list(line["metrics"]), workload
    for m in declared:
        assert line["metrics"][m["name"]]["unit"] == m["unit"], (workload, m)


def check_spans(workload: str, spans: list[dict], gates: list[dict]) -> None:
    objs = [SimpleNamespace(**s) for s in spans]
    own = self_times(objs)
    per_gate: dict[str, float] = {}
    for s, t in zip(objs, own):
        assert s.end >= s.start, (workload, s)
        if s.parent is not None:
            p = objs[s.parent]
            assert p.start <= s.start + EPS and s.end <= p.end + EPS, (workload, s, p)
            assert p.gate == s.gate, (workload, s, p)
        per_gate[s.gate] = per_gate.get(s.gate, 0.0) + t
    walls = {s.gate: s.end - s.start for s in objs if s.name.startswith("gate:")}
    assert set(walls) == {g["id"] for g in gates}, workload
    for gid, total in per_gate.items():
        assert total <= walls[gid] + EPS, (workload, gid, total, walls[gid])


def main() -> int:
    for workload in MIXES:
        line, full = invoke(workload, SEED, 0, 1)
        check_line(workload, line, "per_layer")
        spans = json.loads((WORK / "traces" / f"{workload}-seed{SEED}.json").read_text())
        check_spans(workload, spans, full["gates"])
        for g in full["gates"]:
            e = g["engine"]
            assert e["jobs_own_group"] == e["jobs_own_group_in_window"], (workload, g["id"], e)
            assert e.get("jobs", 0) >= e["jobs_own_group"] + e.get("jobs_untagged", 0), (
                workload, g["id"], e)
        print(f"ok {workload}: {len(full['gates'])} gates, {len(spans)} spans, "
              f"{sum(g['engine'].get('jobs', 0) for g in full['gates'])} jobs")
    workload = "slide_relational"
    line, _ = invoke(workload, SEED, 0, 0)
    check_line(workload, line, "end_to_end")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
