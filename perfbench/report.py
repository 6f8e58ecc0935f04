#!/usr/bin/env python3
"""Print the "where the time goes" tables of traced runs.

    python3 perfbench/report.py [.perfbench_out/<workload>-seed<n>]...

With no argument it reports every traced run under ``.perfbench_out/``.
Per run: each span name's calls, inclusive and self seconds inside the
measured window (self = inclusive minus time covered by child spans), and
Spark's task metrics folded per job group.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def span_table(spans: list[dict], t0: float, t1: float) -> list[tuple]:
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    rows: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
    for i, s in enumerate(spans):
        if s["end"] is None or s["start"] < t0 or s["end"] > t1:
            continue
        incl = s["end"] - s["start"]
        covered = _union([(spans[c]["start"], spans[c]["end"]) for c in children[i]])
        r = rows[s["name"]]
        r[0] += 1
        r[1] += incl
        r[2] += incl - covered
    return sorted(((k, *v) for k, v in rows.items()), key=lambda r: -r[3])


def _union(iv) -> float:
    total, cur = 0.0, None
    for s, e in sorted(x for x in iv if x[1] is not None):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0.0)


def report(stem: str) -> None:
    with open(stem + "-summary.json") as fh:
        summary = json.load(fh)
    with open(stem + "-spans.jsonl") as fh:
        spans = [json.loads(line) for line in fh]
    t0, t1 = summary["window"]
    wall = t1 - t0
    print(f"## {os.path.basename(stem)}: measured window {wall:.2f} s\n")
    print("| span | calls | inclusive s | self s | self share |")
    print("|---|---:|---:|---:|---:|")
    for name, calls, incl, self_s in span_table(spans, t0, t1):
        print(f"| `{name}` | {calls} | {incl:.2f} | {self_s:.2f} | {self_s / wall:.1%} |")
    print("\n| job group | jobs | stages | tasks | run s | cpu s | gc s | shuffle w B |")
    print("|---|---:|---:|---:|---:|---:|---:|---:|")
    for group, m in summary["groups"].items():
        print(
            f"| `{group}` | {m['jobs']:.0f} | {m['stages']:.0f} | {m['tasks']:.0f} | "
            f"{m['run_s']:.2f} | {m['cpu_s']:.2f} | {m['gc_s']:.2f} | "
            f"{m['shuffle_write_bytes']:.0f} |"
        )
    print()


def main(argv: list[str]) -> int:
    stems = argv or sorted(
        p[: -len("-summary.json")]
        for p in glob.glob(os.path.join(ROOT, ".perfbench_out", "*-summary.json"))
    )
    if not stems:
        print("no traced runs found; run perfbench/run.py with --trace 1", file=sys.stderr)
        return 1
    for stem in stems:
        report(stem)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
