"""Set-up, the closed-loop timed phase, output checks and metrics."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import nullcontext

import datagen
import oracle
import tracer as tracing
from workloads import WORKLOADS, dir_files, percentile

SETUP_REPS = 3
SF = 0.01

LAYERS = ("io", "dialect", "engine", "catalog", "reports", "operators", "ingest", "tables", "streaming", "ivm")

WRITE_SPANS = {
    "tables.append", "tables.upsert", "tables.keyed_update", "tables.merge",
    "tables.delete", "tables.compact",
}


class RssSampler:
    """Peak resident memory of this process plus its JVM, sampled while
    the timed phase runs."""

    def __init__(self, pids: list[int]) -> None:
        self.pids = pids
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of a
    process and all its live descendants: the driver Python process, its
    JVM and the JVM's Python workers. Time the host steals from the
    machine is not charged to processes, so this stays comparable when
    the wall clock does not."""
    stats: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK)
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0.0))[1]
        todo.extend(kids.get(pid, []))
    return total


class Speed:
    """How fast the machine runs code right now: the thread CPU time of a
    fixed pure-Python loop, sampled before every set-up step and op. A
    host that shares its cores slows every instruction (and so inflates
    CPU seconds) by the same drifting factor; dividing by it reports CPU
    seconds at the speed where the loop takes ``REF_S``."""

    REF_S = 0.01
    LOOP = 200_000

    def __init__(self) -> None:
        self.samples: list[float] = []

    def sample(self) -> None:
        t0 = time.thread_time()
        x = 0
        for i in range(self.LOOP):
            x += i * i
        self.samples.append(time.thread_time() - t0)

    def factor(self) -> float:
        return self.REF_S / statistics.median(self.samples)


class Ctx:
    """What a workload sees: the session, its directories, the tracer."""

    def __init__(self, run_dir: str, tracer) -> None:
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.tracer = tracer
        self.spark = None
        self.rows: dict[str, int] = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def run(
    workload_name: str, seed: int, seconds: float, trace_on: bool, run_dir: str, output_dir: str
) -> dict:
    tracer = tracing.Tracer() if trace_on else None
    ctx = Ctx(run_dir, tracer)
    wl = WORKLOADS[workload_name](seed)

    # -- inputs (seeded; the engine only ever sees these files) -------------
    phase_t0 = time.perf_counter()
    phases: dict[str, float] = {}
    ctx.rows = datagen.generate_tables(ctx.data_dir, SF, seed)
    input_sizes = {"sf": SF, "rows": ctx.rows, **wl.inputs(ctx)}
    if tracer:
        import __spark_entry__

        __spark_entry__.queries()  # imports every module that aliases a wrapped function
        tracer.install()

    phases["inputs"] = time.perf_counter() - phase_t0
    # -- set-up: session + inputs, several times; then one warm pass ---------
    me = os.getpid()
    speed = Speed()
    reps, reps_cpu = [], []
    for _ in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        speed.sample()
        c0 = tree_cpu_s(me)
        t0 = time.perf_counter()
        from sparketl import session

        ctx.spark = session.get_spark("perfbench")
        wl.prepare(ctx)
        reps.append(time.perf_counter() - t0)
        reps_cpu.append(tree_cpu_s(me) - c0)
    speed.sample()
    c0 = tree_cpu_s(me)
    t0 = time.perf_counter()
    with ctx.span("session.warmup"):
        wl.warm(ctx)
    warm_s = time.perf_counter() - t0
    warm_cpu = tree_cpu_s(me) - c0
    spark = ctx.spark

    phases["setup"] = time.perf_counter() - phase_t0 - phases["inputs"]
    # -- timed phase ------------------------------------------------------------
    latencies: dict[str, list[float]] = {}
    op_log: list[tuple] = []
    cpu_by_kind: dict[str, list[float]] = {}
    failures: list[str] = []
    attempted = 0
    pass_walls: list[float] = []
    pass_cpus: list[float] = []
    seen_files: set[str] = set()
    written = dict.fromkeys(("data_files", "data_bytes", "log_bytes", "manifests"), 0)

    def track_files(count: bool = True) -> None:
        """Count files that appeared under the table roots since the
        last call: data files, log bytes, and manifests (= commits)."""
        for root in wl.table_roots():
            for p, size in dir_files(root).items():
                if p in seen_files:
                    continue
                seen_files.add(p)
                if not count:
                    continue
                if "/_manifests/" in p or "_checkpoint" in p or p.endswith("_LATEST"):
                    written["log_bytes"] += size
                    written["manifests"] += "/_manifests/" in p and p.endswith(".json")
                elif p.endswith(".parquet"):
                    written["data_files"] += 1
                    written["data_bytes"] += size

    def one_pass(k: int) -> float:
        nonlocal attempted
        ops = wl.pass_ops(ctx, k)
        track_files(count=False)
        wall = cpu_total = 0.0
        tr = ctx.tracer  # None during the untraced pass of a traced run
        for i, op in enumerate(ops):
            attempted += 1
            if tr:
                tr.set_op(f"{k}:{i}:{op.name}")
                spark.sparkContext.setJobGroup(f"perfbench-{k}-{i}", op.name)
            speed.sample()
            c0 = tree_cpu_s(me)
            t0 = time.perf_counter()
            try:
                with ctx.span(f"op.{op.kind}"):
                    op.fn()
            except Exception as e:  # noqa: BLE001 - counted, reported, run fails
                failures.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s(me) - c0
            wall += dt
            cpu_total += cpu
            latencies.setdefault(op.kind, []).append(dt)
            cpu_by_kind.setdefault(op.kind, []).append(cpu)
            op_log.append((op.kind, op.name, round(dt, 4), round(cpu, 2)))
            wl.after_op(op)
            if tr:
                tr.harvest_jobs(spark)
                track_files()
        pass_cpus.append(cpu_total)
        return wall

    pids = [os.getpid()] + [p for p in [jvm_pid()] if p]
    trace_walls = {}
    with RssSampler(pids) as rss:
        if tracer:
            tracer.uninstall()
            ctx.tracer = None
            trace_walls["untraced"] = one_pass(0)
            pass_walls.append(trace_walls["untraced"])
            ctx.tracer = tracer
            tracer.install()
            tracer.mark_jobs(spark)
            trace_walls["traced"] = one_pass(1)
            pass_walls.append(trace_walls["traced"])
        else:
            t_start = time.perf_counter()
            k = 0
            while k == 0 or time.perf_counter() - t_start < seconds:
                pass_walls.append(one_pass(k))
                k += 1
    if tracer:
        tracer.uninstall()
        tracer.set_op(None)

    phases["passes"] = sum(pass_walls)
    t_checks = time.perf_counter()
    # -- output checks (outside the timed phase) ------------------------------
    duck = oracle.Duck(ctx.data_dir, ctx.rows)
    try:
        checks = wl.check(ctx, duck)
    except Exception as e:  # noqa: BLE001
        checks = [("check", False, f"{type(e).__name__}: {e}")]
    finally:
        duck.close()
    failed_checks = [f"{n}: {d}" for n, ok, d in checks if not ok]

    samples = [x for kind in wl.op_kinds for x in latencies.get(kind, [])]
    phases["checks"] = time.perf_counter() - t_checks
    named = wl.record(ctx, latencies)
    # CPU seconds of the driver Python process + JVM + Python workers, at
    # reference machine speed: on a shared host the wall clock swings by
    # 2x with the time the host steals, and CPU seconds by a third with
    # how busy its cores are; the CPU seconds over the loop's speed do not
    factor = speed.factor()
    metrics = {
        "setup_s": (statistics.median(reps_cpu) + warm_cpu) * factor,
        "pass_cpu_s": statistics.median(pass_cpus) * factor,
    }
    wall = {
        "setup_wall_s": statistics.median(reps) + warm_s,
        "op_p50_s": percentile(samples, 0.5),
        "op_p90_s": percentile(samples, 0.9),
        "pass_s": statistics.median(pass_walls),
        "peak_rss_mb": rss.peak_kb / 1024.0,
    }
    record = {
        "workload": workload_name,
        "seed": seed,
        "input_sizes": input_sizes,
        "setup_reps_s": reps,
        "setup_reps_cpu_s": reps_cpu,
        "raw_cpu_s": {"setup": statistics.median(reps_cpu) + warm_cpu, "pass": statistics.median(pass_cpus)},
        "speed_loop_s": {"median": statistics.median(speed.samples), "n": len(speed.samples),
                         "min": min(speed.samples), "max": max(speed.samples)},
        "warm_cpu_s": warm_cpu,
        "warm_s": warm_s,
        "passes": len(pass_walls),
        "samples": {k: len(v) for k, v in latencies.items()},
        "op_samples": len(samples),
        "latency_by_kind_p50_s": {k: percentile(v, 0.5) for k, v in latencies.items()},
        "wall": wall,
        "phases_s": phases,
        "ops": op_log,
        "cpu_by_kind_p50_s": {k: percentile(v, 0.5) for k, v in cpu_by_kind.items()},
        "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "error_rate": (len(failures) + len(failed_checks)) / max(1, attempted + len(checks)),
        "failures": failures,
        "failed_checks": failed_checks,
        "checks": len(checks),
    }
    if tracer:
        tracer.attribute_jobs()
        record["per_layer"] = layer_metrics(tracer, wl, ctx, trace_walls, written)
        os.makedirs(output_dir, exist_ok=True)
        tracer.dump(
            os.path.join(output_dir, f"trace-{workload_name}-{seed}.json"),
            workload=workload_name, seed=seed, walls=trace_walls,
            cores=spark.sparkContext.defaultParallelism,
        )
    return {
        "metrics": metrics,
        "record": record,
        "attempted": attempted + len(checks),
        "failed": len(failures) + len(failed_checks),
    }


def layer_metrics(tracer, wl, ctx, walls: dict, files: dict) -> dict:
    spans = tracer.spans
    table = tracing.span_tables(spans)
    in_pass = [i for i, s in enumerate(spans) if s["op"] is not None]
    by_name: dict[str, list[int]] = {}
    for i in in_pass:
        by_name.setdefault(spans[i]["name"], []).append(i)

    def ancestors(i: int):
        p = spans[i]["parent"]
        while p is not None:
            yield p
            p = spans[p]["parent"]

    def mean_wall(name: str, idx=None) -> float:
        idx = by_name.get(name, []) if idx is None else idx
        return statistics.fmean(table[i]["wall"] for i in idx) if idx else 0.0

    def mean_counter(name: str, counter: str, idx=None) -> float:
        idx = by_name.get(name, []) if idx is None else idx
        return statistics.fmean(table[i]["counters"][counter] for i in idx) if idx else 0.0

    def self_counter(idx, counter: str) -> float:
        return statistics.fmean(spans[i]["self_counters"][counter] for i in idx) if idx else 0.0

    setup_spans = [i for i, s in enumerate(spans) if s["op"] is None]
    m: dict[str, float] = {}
    gs = [i for i in setup_spans if spans[i]["name"] == "session.get_spark"]
    m["session.get_spark_s"] = statistics.median(table[i]["wall"] for i in gs) if gs else 0.0
    warm = [i for i in setup_spans if spans[i]["name"] == "session.warmup"]
    m["session.warmup_s"] = table[warm[0]]["wall"] if warm else 0.0
    m["io.load_tables_s"] = mean_wall("io.load_tables")
    m["io.load_tables_calls"] = float(len(by_name.get("io.load_tables", [])))
    m["dialect.transpile_s"] = mean_wall("dialect.transpile")
    m["dialect.parse_merge_s"] = mean_wall("dialect.parse_merge")
    m["engine.execute_s"] = mean_wall("engine.execute")
    m["engine.preview_s"] = mean_wall("engine.preview")
    m["engine.preview_jobs"] = mean_counter("engine.preview", "jobs")
    m["engine.preview_tasks"] = mean_counter("engine.preview", "tasks")
    m["catalog.call_s"] = mean_wall("catalog.call")
    m["reports.report_data_s"] = mean_wall("reports.report_data")
    m["operators.build_s"] = mean_wall("operators.build")
    m["operators.build_jobs"] = mean_counter("operators.build", "jobs")
    m["operators.run_s"] = mean_wall("operators.run")
    m["operators.jobs"] = mean_counter("op.query", "jobs")
    m["ingest.append_s"] = mean_wall("ingest.append")
    m["ingest.update_s"] = mean_wall("ingest.update")
    m["ingest.jobs_per_call"] = self_counter(
        by_name.get("ingest.append", []) + by_name.get("ingest.update", []), "jobs"
    )
    for short in ("append", "upsert", "keyed_update", "merge", "delete", "compact", "vacuum"):
        m[f"tables.{short}_s"] = mean_wall(f"tables.{short}")
    outer_writes = [
        i for n in WRITE_SPANS for i in by_name.get(n, [])
        if not any(spans[a]["name"] in WRITE_SPANS for a in ancestors(i))
    ]
    m["tables.jobs_per_commit"] = mean_counter("", "jobs", outer_writes)
    commits = max(1, files["manifests"])
    m["tables.files_added_per_commit"] = files["data_files"] / commits
    m["tables.bytes_written_per_commit"] = files["data_bytes"] / commits
    m["tables.log_bytes_per_commit"] = files["log_bytes"] / commits
    m["tables.read_s"] = mean_wall("op.read")  # call -> rows counted
    m["tables.files_read_ratio"] = wl.read_stats(ctx) or 0.0
    stage = [i for i, s in enumerate(spans) if s["name"] == "streaming.stage"]
    m["streaming.stage_s"] = statistics.fmean(table[i]["wall"] for i in stage) if stage else 0.0
    m["streaming.batch_s"] = mean_wall("streaming.batch")
    drains = by_name.get("streaming.drain", [])
    m["streaming.engine_s"] = statistics.fmean(
        table[d]["wall"] - sum(table[b]["wall"] for b in by_name.get("streaming.batch", [])
                               if spans[b]["op"] == spans[d]["op"])
        for d in drains
    ) if drains else 0.0
    m["streaming.jobs_per_batch"] = mean_counter("streaming.batch", "jobs")
    applies = by_name.get("ivm.apply", [])
    m["ivm.apply_s"] = mean_wall("ivm.apply")

    def under_apply(name: str) -> float:
        if not applies:
            return 0.0
        tot = sum(table[i]["wall"] for i in by_name.get(name, []) if any(spans[a]["name"] == "ivm.apply" for a in ancestors(i)))
        return tot / len(applies)

    m["ivm.merge_s"] = under_apply("tables.merge")
    m["ivm.rescan_read_s"] = under_apply("tables.read")
    m["ivm.scan_bytes_per_batch"] = mean_counter("ivm.apply", "scan_bytes")
    vb = wl.view_bytes_per_batch
    m["ivm.view_bytes_written_per_batch"] = statistics.fmean(vb) if vb else 0.0
    totals = {c: 0.0 for c in tracing.COUNTERS}
    for job in tracer.jobs:
        for c in tracing.COUNTERS:
            totals[c] += job[c]
    for c in ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_bytes", "scan_bytes", "spill_bytes"):
        m[f"spark.{c}"] = totals[c]
    cores = ctx.spark.sparkContext.defaultParallelism
    m["spark.busy_share"] = totals["task_s"] / max(1e-9, walls.get("traced", 0.0) * cores)
    layer_self: dict[str, float] = {}
    for i in in_pass:
        layer = spans[i]["name"].split(".")[0]
        layer_self[layer] = layer_self.get(layer, 0.0) + table[i]["self"]
    for layer in LAYERS:
        m[f"{layer}.self_s"] = layer_self.get(layer, 0.0)
    m["trace.untraced_pass_s"] = walls.get("untraced", 0.0)
    m["trace.traced_pass_s"] = walls.get("traced", 0.0)
    m["trace.overhead_s"] = walls.get("traced", 0.0) - walls.get("untraced", 0.0)
    return m
