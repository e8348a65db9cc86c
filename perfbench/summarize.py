"""Summarize traced runs: one table per workload.

    python3 perfbench/summarize.py [trace files ...]

Without arguments it reads every ``.perfbench_out/trace-*.json`` the
traced runs (``run.py --trace 1``) wrote. Each table has one row per
span name (layer.function) with its call count, total and self wall
time, and the Spark status-store counters of the jobs submitted inside
it; the footer gives the tracing overhead (traced pass wall minus the
untraced pass wall of the same run).
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracer import span_tables  # noqa: E402

COLS = ("jobs", "tasks", "task_s", "gc_s", "scan_bytes", "shuffle_write_bytes", "spill_bytes")


def summarize(path: str) -> str:
    with open(path) as f:
        doc = json.load(f)
    spans = doc["spans"]
    table = span_tables(spans)
    rows: dict[str, dict] = {}
    for i, s in enumerate(spans):
        if s["op"] is None:  # set-up spans are reported by name only
            name = f"(setup) {s['name']}"
        else:
            name = s["name"]
        r = rows.setdefault(name, {"calls": 0, "total": 0.0, "self": 0.0, **{c: 0 for c in COLS}})
        r["calls"] += 1
        r["total"] += table[i]["wall"]
        r["self"] += table[i]["self"]
        for c in COLS:
            r[c] += s["self_counters"][c]
    meta = doc["meta"]
    walls = meta.get("walls", {})
    head = f"{'span':34} {'calls':>5} {'total_s':>8} {'self_s':>8} " + " ".join(f"{c:>12}" for c in COLS)
    lines = [f"== {meta.get('workload')} (seed {meta.get('seed')}, {meta.get('cores')} cores)", head]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self"]):
        vals = " ".join(
            f"{r[c]:>12.2f}" if isinstance(r[c], float) else f"{r[c]:>12d}" for c in COLS
        )
        lines.append(f"{name[:34]:34} {r['calls']:>5d} {r['total']:>8.3f} {r['self']:>8.3f} {vals}")
    layer_self: dict[str, float] = {}
    for name, r in rows.items():
        if not name.startswith("(setup)"):
            layer = name.split(".")[0]
            layer_self[layer] = layer_self.get(layer, 0.0) + r["self"]
    lines.append("self time by layer: " + ", ".join(
        f"{k}={v:.3f}s" for k, v in sorted(layer_self.items(), key=lambda kv: -kv[1])
    ))
    if walls:
        un, tr = walls.get("untraced", 0.0), walls.get("traced", 0.0)
        share = (tr - un) / un if un else 0.0
        lines.append(
            f"tracing overhead: traced pass {tr:.3f}s - untraced pass {un:.3f}s = {tr - un:+.3f}s ({share:+.1%})"
        )
    return "\n".join(lines)


def main() -> int:
    paths = sys.argv[1:] or sorted(
        glob.glob(os.path.join(os.path.dirname(HERE), ".perfbench_out", "trace-*.json"))
    )
    if not paths:
        print("no trace files; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    print("\n\n".join(summarize(p) for p in paths))
    return 0


if __name__ == "__main__":
    sys.exit(main())
