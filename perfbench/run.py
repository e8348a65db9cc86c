"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. The runner sets up the environment the
engine needs before any JVM starts (the repo on PYTHONPATH for Python
workers, a driver heap that fits the machine, and a per-run TMPDIR /
SPARK_LOCAL_DIRS under the checkout that is removed afterwards), builds
the inputs from the seed, and exits non-zero if any op fails or any
output check disagrees with DuckDB.

With ``--trace 0`` the metrics are the end-to-end ones; ``--trace 1``
runs one untraced and one traced pass and prints the per-layer metrics,
and writes the spans to ``.perfbench_out/`` for ``summarize.py``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("interactive_sql", "table_dml")


def configure_env(run_dir: str) -> dict:
    """Environment for the engine, set before pyspark starts its JVM.
    Returns what was set, for the run record."""
    nproc = os.cpu_count() or 1
    cpus = str(min(4, nproc))
    # the session factory's default heap is far above what a shared
    # machine can give; 2 GB holds every workload at the benchmark scale,
    # and a fixed heap keeps the JVM's GC load the same on every machine
    heap = "2g"
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pythonpath = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the JVM's own temp files (native libraries, artifacts) go to the run
    # directory too, and it writes no perf-data file under /tmp
    java_opts = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARKETL_DRIVER_MEM": heap,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": pythonpath,
        "JAVA_TOOL_OPTIONS": java_opts,
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def tree_digest() -> str:
    """Content hash of the engine sources, for runs outside a git checkout."""
    h = hashlib.sha256()
    for base in ("sparketl",):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def versions() -> dict:
    out = {}
    for mod in ("pyspark", "pyarrow", "duckdb"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = None
    return out


def stop_spark() -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit, even when the gateway is already broken."""
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
    except ImportError:
        return
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        if gw is not None:
            gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is stopped below either way
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - did not exit on its own
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sparketl", "session.py")):
        print(f"perfbench: no engine sources under {ROOT} (sparketl/ missing)", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_start = os.getloadavg()[0]
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    env = configure_env(run_dir)
    sys.path[:0] = [HERE, ROOT]
    cwd = os.getcwd()
    os.chdir(run_dir)  # spark-warehouse / metastore files land in the run dir
    t0 = time.perf_counter()
    try:
        import harness

        res = harness.run(
            args.workload, args.seed, args.seconds, bool(args.trace), run_dir,
            os.path.join(ROOT, ".perfbench_out"),
        )
    finally:
        try:
            stop_spark()
        finally:
            os.chdir(cwd)
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass

    record = res["record"]
    record.update({
        "git_commit": git_commit(),
        "tree_sha": tree_digest(),
        "nproc": os.cpu_count(),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0],
        "env": env,
        "versions": versions(),
        "total_s": time.perf_counter() - t0,
    })
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = record.pop("per_layer") if args.trace else res["metrics"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    correct = res["failed"] == 0
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
