"""Self-test of the benchmark, at its own scale (sf0.01).

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json, that a run exits 0 with a
correct result whose metrics are exactly the end-to-end metrics, each
with its unit; that a traced run prints every per-layer metric and
writes a trace the summary tool reads; that a corrupted expected
fingerprint fails the run; and that a directory holding only the
benchmark (no engine) exits non-zero without printing a result.
Everything it writes stays under ``.perfbench_run/`` in the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, cwd: str = ROOT, **env) -> tuple[int, list[str], str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
        env={**os.environ, **env},
    )
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def check_result(lines: list[str], expected: dict[str, str]) -> dict:
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == expected, f"metrics {got} != {expected}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    names = [w["name"] for w in bench["workloads"]]

    sys.path.insert(0, HERE)
    import pandas as pd

    import oracle

    cols, rows = ["k", "v"], [(i, i * 0.5) for i in range(150)]
    shown = pd.DataFrame({c: [str(r[j]) for r in rows[:100]] for j, c in enumerate(cols)})
    assert oracle.preview_matches(shown, cols, rows)[0]
    assert not oracle.preview_matches(shown.iloc[1:], cols, rows)[0]
    assert not oracle.preview_matches(shown.iloc[::-1].reset_index(drop=True), cols, rows)[0]
    print("ok  preview check accepts the first 100 rows and rejects a short or reordered preview")

    for w in names:
        code, lines, err = run(w, 0)
        assert code == 0, f"{w}: exit {code}\n{err[-2000:]}"
        res = check_result(lines, e2e)
        assert res["correct"] and res["failed"] == 0, res
        for k in e2e:
            assert res["metrics"][k]["value"] > 0, (w, k)
        print(f"ok  {w}: end-to-end metrics {sorted(e2e)}")

    code, lines, err = run(names[-1], 1)
    assert code == 0, f"traced: exit {code}\n{err[-2000:]}"
    res = check_result(lines, layer)
    trace_file = os.path.join(ROOT, ".perfbench_out", f"trace-{names[-1]}-7.json")
    assert os.path.isfile(trace_file), trace_file
    summary = subprocess.run(
        [sys.executable, os.path.join(HERE, "summarize.py"), trace_file],
        capture_output=True, text=True, timeout=60, check=True,
    ).stdout
    assert "tracing overhead" in summary, summary
    print(f"ok  {names[-1]} traced: {len(layer)} per-layer metrics, summary readable")

    code, lines, err = run(names[0], 0, PERFBENCH_CORRUPT_EXPECTED="1")
    assert code != 0, "a corrupted expected fingerprint must fail the run"
    assert lines and json.loads(lines[-1])["correct"] is False
    print("ok  corrupted expected fingerprint fails the run")

    bare = os.path.join(ROOT, ".perfbench_run", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines, err = run(names[0], 0, cwd=bare)
        assert code != 0 and not lines, (code, lines)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  benchmark alone (no engine) exits non-zero without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
