"""Render a bench metrics JSON into SHUFFLE.md — measured per-query
shuffle/input/spill volumes, the runtime counterpart of PLANSTATS'
compile-time shuffle counts.

Usage: python tools/bench_report.py METRICS.json > SHUFFLE.md

METRICS.json is a bench.py run with SPARK_GRAFT_BENCH_METRICS=1 and
SPARK_GRAFT_BENCH_OUT=METRICS.json.

The table is evidence for the per-operator scale claims in SCALING.md:
a query documented as "map-only" should show ~zero shuffle beyond its
presentation ORDER BY; zero spill everywhere shows partitions fit
executor memory at this SF (and AQE re-sizes them at any other).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path


def fmt(n: int | None) -> str:
    if n is None:
        return "corrupt"  # bench.py nulled the row (stage eviction)
    if n < 0:
        # negative deltas mean the stage store evicted between polls —
        # bench.py should have nulled these; refuse to render them as real
        raise SystemExit(f"negative stage delta {n}: regenerate with fixed bench.py")
    if n >= 10_000_000:
        return f"{n / 1e6:,.0f} MB"
    if n >= 10_000:
        return f"{n / 1e3:,.0f} kB"
    return str(n)


def main() -> None:
    if len(sys.argv) != 2:
        raise SystemExit("usage: python tools/bench_report.py METRICS.json > SHUFFLE.md")
    src = Path(sys.argv[1])
    d = json.loads(src.read_text())
    metrics = d.get("stage_metrics")
    if not metrics:
        raise SystemExit(
            f"{src} has no stage_metrics — run bench.py with "
            "SPARK_GRAFT_BENCH_METRICS=1"
        )
    total = {
        k: sum(m[k] for m in metrics.values() if m[k] is not None)
        for k in next(iter(metrics.values()))
    }
    spillers = [
        q
        for q, m in metrics.items()
        if m["memoryBytesSpilled"] or m["diskBytesSpilled"]
    ]
    print("# SHUFFLE — measured per-query stage metrics (bench run, sf0.1)")
    print()
    print(
        f"Generated by tools/bench_report.py from {src.name} "
        "(UI REST stage deltas per query, noop sink)."
    )
    print()
    print(
        f"Totals across {len(metrics)} queries: "
        f"shuffle write {fmt(total['shuffleWriteBytes'])}, "
        f"shuffle read {fmt(total['shuffleReadBytes'])}, "
        f"input {fmt(total['inputBytes'])}, "
        f"spill (memory/disk) {fmt(total['memoryBytesSpilled'])}/"
        f"{fmt(total['diskBytesSpilled'])}."
    )
    print()
    if spillers:
        print(f"QUERIES THAT SPILLED: {', '.join(sorted(spillers))}")
    else:
        print(
            "No query spilled — every partition fit executor memory at "
            "this SF; AQE re-sizes post-shuffle partitions at any other."
        )
    print()
    print("| query | sec | shuffle write | shuffle read | input | spilled |")
    print("|---|---|---|---|---|---|")
    secs = d.get("queries", {})
    for q in sorted(metrics):
        m = metrics[q]
        sp = (
            None
            if m["memoryBytesSpilled"] is None
            else m["memoryBytesSpilled"] + m["diskBytesSpilled"]
        )
        print(
            f"| {q} | {secs.get(q, '')} | {fmt(m['shuffleWriteBytes'])} "
            f"| {fmt(m['shuffleReadBytes'])} | {fmt(m['inputBytes'])} "
            f"| {fmt(sp) if sp else '0'} |"
        )


if __name__ == "__main__":
    main()
