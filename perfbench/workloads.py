"""The benchmark's user workloads.

Each workload drives the engine only through its public functions and
exposes the same shape to the harness:

- ``prepare(ctx)``: inputs ready on a fresh session (views, tables,
  staged stream); part of set-up;
- ``warm(ctx)``: first calls of the shared paths, off the measured tables;
  part of set-up;
- ``pass_ops(ctx, k)``: the k-th pass, a list of ``Op`` in seeded order;
- ``check(ctx, duck)``: output checks against DuckDB, after the timed phase;
- ``record(ctx, latencies)``: the workload's named metrics for the run record.

Module attributes are looked up at call time (``session.get_spark``,
``io.load_tables`` ...) so the traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from typing import Callable

import datagen
import oracle


@dataclass
class Op:
    kind: str  # what the op is, e.g. "stmt", "query", "commit", "read", "batch"
    name: str  # which entry / op-log item
    fn: Callable[[], object]


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_files(root: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Workload:
    name = ""
    op_kinds: tuple[str, ...] = ()  # the op kinds whose latencies make op_p50_s / op_p90_s
    view_bytes_per_batch: list[int] = []

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def inputs(self, ctx) -> dict:
        """Seeded inputs beyond the tables; returns their sizes."""
        return {}

    def table_roots(self) -> list[str]:
        return []

    def after_op(self, op: Op) -> None:
        pass

    def read_stats(self, ctx) -> float | None:
        return None


# ---------------------------------------------------------------------------
# interactive_sql: one analyst session
# ---------------------------------------------------------------------------


class InteractiveSQL(Workload):
    """One analyst session: Tier C statements (T-SQL spellings through
    the dialect shim into ``Engine.execute``), each previewed at 100
    rows; registry operators, each built (the ``q_*`` call, which runs
    the operator's eager jobs) and materialized; and catalog refreshes
    and report aggregates in between."""

    name = "interactive_sql"
    op_kinds = ("stmt", "query", "catalog", "report")
    # a fixed slice of the registry's Tier C entries, one per dialect
    # rewrite family; each ends in a total ORDER BY, so its preview is
    # the first 100 rows of the oracle's result
    STATEMENTS = [
        "tierc_tsql_top",  # TOP + [bracket] identifiers
        "tierc_tsql_funcs",  # ISNULL / LEN / CHARINDEX
        "tierc_qualify",  # QUALIFY
        "tierc_cross_apply",  # CROSS APPLY
        "tierc_tsql_pagination",  # OFFSET / FETCH
        "tierc_pivot_sql",  # PIVOT
    ]
    # the batch side of the session: a text operator and the SQL-shaped flagship
    OPERATORS = ["ext_10_tfidf_topk", "flagship_pricing_summary"]
    # (table, chart, x, y): aggregates with exact integer results
    REPORTS = [
        ("lineitem", "Pie Chart", "l_returnflag", "l_returnflag"),
        ("customer", "Pie Chart", "c_mktsegment", "c_mktsegment"),
        ("part", "Pie Chart", "p_type", "p_size"),
        ("nation", "Bar Graph", "n_name", "n_regionkey"),
    ]
    # a persistent table with a primary key, beside the loaded views
    PK_TABLE, PK_COLUMNS = "region_pk", ["r_regionkey"]
    CATALOG_TABLES = ["orders", "lineitem", "customer", "part", "events", PK_TABLE]
    n_prepared = 0  # each set-up gets a fresh location for the PK table

    def prepare(self, ctx) -> None:
        from sparketl import engine, io

        io.load_tables(ctx.spark, ctx.data_dir)
        self.engine = engine.Engine(ctx.spark, os.path.join(ctx.run_dir, "saved_queries.json"))
        self.n_prepared += 1
        loc = os.path.join(ctx.run_dir, "catalog", f"{self.PK_TABLE}_{self.n_prepared}")
        ctx.spark.sql(f"CREATE TABLE {self.PK_TABLE} USING parquet LOCATION '{loc}' AS SELECT * FROM region")
        self.engine.catalog.set_primary_key(self.PK_TABLE, self.PK_COLUMNS)
        self.results: dict[str, object] = {}
        self.previews: list[tuple[str, object]] = []  # every preview shown, in order
        self.rows: dict[str, tuple] = {}
        self.reports: dict[tuple, object] = {}
        self.catalog_out: list = []
        self.build_s: list[float] = []
        self.run_s: list[float] = []

    def _stmt(self, ctx, name: str):
        import __spark_entry__

        def fn():
            df = __spark_entry__.queries()[name](ctx.spark, ctx.data_dir)
            self.previews.append((name, self.engine.preview(df)))
            self.results[name] = df

        return fn

    def _query(self, ctx, name: str):
        import __spark_entry__

        def fn():
            t0 = time.perf_counter()
            with ctx.span("operators.build"):
                df = __spark_entry__.queries()[name](ctx.spark, ctx.data_dir)
            t1 = time.perf_counter()
            with ctx.span("operators.run"):
                rows = df.collect()
            self.build_s.append(t1 - t0)
            self.run_s.append(time.perf_counter() - t1)
            self.rows[name] = (df.columns, [tuple(r) for r in rows])

        return fn

    def _catalog(self, table: str):
        def fn():
            cat = self.engine.catalog
            self.catalog_out.append(
                (cat.databases(), cat.tables(), table, list(cat.table_design(table)), cat.primary_keys(table))
            )

        return fn

    def _report(self, ctx, spec: tuple):
        def fn():
            from sparketl import reports

            table, chart, x, y = spec
            self.reports[spec] = reports.report_data(ctx.spark.table(table), chart, x, y)

        return fn

    def warm(self, ctx) -> None:
        """One statement, catalog refresh and report, so the timed pass
        does not pay the session's first-call costs."""
        self._stmt(ctx, "tierc_tsql_top")()
        self._catalog("orders")()
        self._report(ctx, self.REPORTS[0])()

    def pass_ops(self, ctx, k: int) -> list[Op]:
        """The same op list on every pass: order and targets come from the seed."""
        rng = random.Random(self.seed)
        items = [("stmt", n) for n in self.STATEMENTS] + [("query", n) for n in self.OPERATORS]
        rng.shuffle(items)
        ops: list[Op] = []
        for i, (kind, name) in enumerate(items):
            fn = self._stmt(ctx, name) if kind == "stmt" else self._query(ctx, name)
            ops.append(Op(kind, name, fn))
            if i % 4 == 3:
                t = rng.choice(self.CATALOG_TABLES)
                ops.append(Op("catalog", f"catalog:{t}", self._catalog(t)))
                spec = rng.choice(self.REPORTS)
                ops.append(Op("report", f"report:{spec[0]}", self._report(ctx, spec)))
        return ops

    def check(self, ctx, duck: oracle.Duck) -> list[tuple[str, bool, str]]:
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        out = []
        results = {name: duck.rows(oracles[name]) for name in self.results}
        for name, df in sorted(self.results.items()):
            got = oracle.spark_fingerprint(df)
            want = oracle.expected(oracle.fingerprint(*results[name]))
            out.append((name, got == want, f"spark={got} duckdb={want}"))
        for name, pdf in self.previews:
            ok, detail = oracle.preview_matches(pdf, *results[name])
            out.append((f"{name}:preview", ok, detail))
        for name, (cols, rows) in sorted(self.rows.items()):
            got = oracle.fingerprint(cols, rows)
            want = oracle.expected(duck.fingerprint(oracles[name]))
            out.append((name, got == want, f"spark={got} duckdb={want}"))
        for spec, pdf in self.reports.items():
            table, chart, x, y = spec
            if chart == "Pie Chart" and x == y:
                sql = f'SELECT {x}, count(*) AS "count" FROM {table} GROUP BY {x}'
            elif chart == "Pie Chart":
                sql = f"SELECT {x}, sum({y}) AS {y} FROM {table} GROUP BY {x}"
            else:
                sql = f"SELECT {x}, {y} FROM {table}"
            got = oracle.fingerprint(list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False)])
            want = oracle.expected(duck.fingerprint(sql))
            out.append((f"report:{table}", got == want, f"report={got} duckdb={want}"))
        for dbs, tables, table, design, pks in self.catalog_out:
            src = "region" if table == self.PK_TABLE else table
            cols = [d[0] for d in duck.con.execute(f"DESCRIBE {src}").fetchall()]
            # the loaded temp views are not base tables and carry no key
            want_pks = self.PK_COLUMNS if table == self.PK_TABLE else []
            ok = dbs == ["default"] and tables == [self.PK_TABLE] and design == cols and pks == want_pks
            out.append((
                f"catalog:{table}", ok,
                f"databases={dbs} tables={tables} design={design} duckdb={cols} keys={pks} want={want_pks}",
            ))
        return out

    def record(self, ctx, lat: dict) -> dict:
        sql = lat.get("stmt", []) + lat.get("catalog", []) + lat.get("report", [])
        return {
            "stmt_p50_s": (percentile(sql, 0.5), "s"),
            "stmt_p90_s": (percentile(sql, 0.9), "s"),
            "query_p50_s": (percentile(lat["query"], 0.5), "s"),
            "operators_build_p50_s": (percentile(self.build_s, 0.5), "s"),
            "operators_run_p50_s": (percentile(self.run_s, 0.5), "s"),
        }


# ---------------------------------------------------------------------------
# table_dml: the import / keyed-update flow and a CDC stream on ManagedTables
# ---------------------------------------------------------------------------


class CdcStream:
    """The ext_166 shape, driven by the benchmark: events staged into
    time-ordered chunks, read as a file stream, and each micro-batch
    applied through ``foreachBatch`` → ``cdc_rank_apply_batch`` (a base
    MERGE with deletes, then the per-user top-k view), with the z-order
    compact cadence."""

    COMPACT_EVERY = 2  # batches, as in ext_166

    def __init__(self, ctx, root: str, n_chunks: int) -> None:
        from pyspark.sql import types as T

        from sparketl import tables
        from sparketl.streaming import stateful

        self.root = root
        self.base = tables.ManagedTable(ctx.spark, os.path.join(root, "base"))
        self.base.create(T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("value_cents", T.LongType()),
        ]))
        self.view = tables.ManagedTable(ctx.spark, os.path.join(root, "view"))
        self.view.create(T.StructType([
            T.StructField("view_key", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value_cents", T.LongType()),
        ]))
        self.stage = stateful.stage_event_chunks(ctx.spark, ctx.data_dir, n_chunks=n_chunks)
        self.batch_s: list[float] = []
        self.view_bytes_per_batch: list[int] = []
        self.start_bytes = self.table_bytes()

    def roots(self) -> list[str]:
        return [self.base.root, self.view.root]

    def table_bytes(self) -> int:
        return sum(sum(dir_files(r).values()) for r in self.roots())

    def apply(self, ctx):
        from sparketl.operators import curation

        def apply_batch(batch, batch_id: int) -> None:
            view_before = sum(dir_files(self.view.root).values()) if ctx.tracer else 0
            t0 = time.perf_counter()
            with ctx.span("streaming.batch"):
                curation.cdc_rank_apply_batch(self.base, self.view, batch, k=curation.CDC_TOPK_K)
                if batch_id % self.COMPACT_EVERY == 1:
                    self.base.compact(target_partitions=8, zorder_by=["user_id", "event_id"])
            self.batch_s.append(time.perf_counter() - t0)
            if ctx.tracer:
                self.view_bytes_per_batch.append(sum(dir_files(self.view.root).values()) - view_before)

        return apply_batch

    def drain(self, ctx) -> None:
        from sparketl.streaming import stateful

        q = (
            stateful.read_staged_stream(ctx.spark, self.stage)
            .writeStream.foreachBatch(self.apply(ctx))
            .option("checkpointLocation", os.path.join(self.root, "_checkpoint"))
            .start()
        )
        try:
            with ctx.span("streaming.drain"):
                q.processAllAvailable()
        finally:
            q.stop()


class TableDML(Workload):
    """The reference's import and update flow on a ManagedTable seeded
    from orders: a seeded write mix (worksheet append, keyed update with
    NULL and repeated keys, upsert, SQL MERGE, delete) with pruned and
    time-travel reads in between and compact / vacuum at a fixed commit
    cadence; then the delete-bearing CDC stream (ext_166 shape), which
    writes the table layer as large batched MERGEs."""

    name = "table_dml"
    op_kinds = ("commit",)
    BATCH_ROWS = 200
    KEEP_VERSIONS = 6
    # fixed, not seeded: a seeded chunk count changes the work per run
    STREAM_CHUNKS = 2

    def inputs(self, ctx) -> dict:
        self.ops = datagen.dml_ops(self.seed, ctx.rows["orders"], self.BATCH_ROWS)
        chg = os.path.join(ctx.data_dir, "changes")
        os.makedirs(chg, exist_ok=True)
        for i, op in enumerate(self.ops):
            if op.rows:
                op.path = os.path.join(chg, f"op{i:02d}.parquet")
                op.nbytes = datagen.write_rows_parquet(op.path, op.rows)
        self.earlier_logs: list[list[tuple]] = []
        return {
            "op_log_ops": len(self.ops),
            "batch_rows": self.BATCH_ROWS,
            "stream_chunks": self.STREAM_CHUNKS,
        }

    def _new_table(self, ctx, root: str):
        from pyspark.sql import types as T

        from sparketl import engine, tables

        t = tables.ManagedTable(ctx.spark, root)
        t.create(T.StructType([
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]), {"primary_key": "o_orderkey"})
        self.engine = engine.Engine(ctx.spark, os.path.join(ctx.run_dir, "saved_queries.json"))
        self.engine.register_managed("orders_t", t)
        return t

    n_prepared = 0  # each set-up and pass gets fresh table directories

    def prepare(self, ctx) -> None:
        self.n_prepared += 1
        self.root = os.path.join(ctx.run_dir, "tables", f"orders_{self.n_prepared}")
        self.table = self._new_table(ctx, self.root)
        orders = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "orders.parquet"))
        self.seed_version = self.table.append(orders.select(*datagen.DML_COLUMNS))
        self.stream = CdcStream(
            ctx, os.path.join(ctx.run_dir, "tables", f"cdc_{self.n_prepared}"), self.STREAM_CHUNKS
        )
        self.log: list[tuple] = []  # (kind, op, version or count)
        self.files = dir_files(self.root)
        self.bytes_written = 0
        self.change_bytes = 0

    def _write(self, ctx, op):
        from sparketl import ingest

        mapping = {c: c for c in datagen.DML_COLUMNS}

        def fn():
            t = self.table
            if op.kind == "ingest_append":
                v = ingest.ingest_append(t, ctx.spark.read.parquet(op.path), mapping)
            elif op.kind == "ingest_update":
                v = ingest.ingest_update(t, ctx.spark.read.parquet(op.path), mapping, "o_orderkey")
            elif op.kind == "upsert":
                v = t.upsert(ctx.spark.read.parquet(op.path), "o_orderkey")
            elif op.kind == "merge":
                view = f"chg_{os.path.basename(op.path)[:-8]}"
                ctx.spark.read.parquet(op.path).createOrReplaceTempView(view)
                sets = ", ".join(f"{c} = s.{c}" for c in datagen.DML_COLUMNS[1:])
                cols = ", ".join(datagen.DML_COLUMNS)
                vals = ", ".join(f"s.{c}" for c in datagen.DML_COLUMNS)
                v = self.engine.execute(
                    f"MERGE INTO orders_t AS t USING {view} AS s ON t.o_orderkey = s.o_orderkey "
                    f"WHEN MATCHED THEN UPDATE SET {sets} "
                    f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
                ).first()[0]
            else:
                v = t.delete_where(op.predicate)
            self.log.append((op.kind, op, v))
            self.change_bytes += op.nbytes

        return fn

    def _maintain(self, kind: str):
        def fn():
            if kind == "compact":
                v = self.table.compact(target_partitions=4, sort_by=["o_orderkey"])
                self.log.append(("compact", None, v))
            else:
                self.table.vacuum(keep_versions=self.KEEP_VERSIONS)

        return fn

    def _read(self, ctx, op):
        def fn():
            t = self.table
            if op.kind == "read_version":
                v = max(self.seed_version, t.history()[-1] - op.version_back)
                self.log.append((op.kind, op, (v, t.read(version=v).count())))
            else:
                self.log.append((op.kind, op, t.read(where=op.predicate).count()))

        return fn

    def warm(self, ctx) -> None:
        """One append and one pruned read on a throwaway table, so the
        measured table starts from the same state in every run."""
        t = self._new_table(ctx, os.path.join(ctx.run_dir, "tables", "warm"))
        t.append(self.table.read().limit(1000))
        t.read(where="o_orderkey = 1").count()
        self.engine.register_managed("orders_t", self.table)

    def pass_ops(self, ctx, k: int) -> list[Op]:
        """Every pass runs the whole op log on a freshly prepared table."""
        if k:
            self.earlier_logs.append(self.log)
            self.prepare(ctx)
        ops: list[Op] = []
        for op in self.ops:
            if op.kind.startswith("read"):
                ops.append(Op("read", op.kind, self._read(ctx, op)))
            else:
                ops.append(Op("commit", op.kind, self._write(ctx, op)))
        ops.append(Op("maintain", "compact", self._maintain("compact")))
        ops.append(Op("maintain", "vacuum", self._maintain("vacuum")))
        ops.append(Op("drain", "cdc_stream", lambda: self.stream.drain(ctx)))
        return ops

    def table_roots(self) -> list[str]:
        return [self.root, *self.stream.roots()]

    def after_op(self, op: Op) -> None:
        if op.kind in ("commit", "maintain"):
            now = dir_files(self.root)
            self.bytes_written += sum(s for p, s in now.items() if self.files.get(p) != s)
            self.files = now

    def check(self, ctx, duck: oracle.Duck) -> list[tuple[str, bool, str]]:
        import __spark_entry__

        replay = oracle.DmlReplay(duck)
        states: dict[int, tuple] = {self.seed_version: replay.state()}
        out = []
        for kind, op, res in self.log:
            if kind == "ingest_append":
                replay.append(op.path)
            elif kind == "ingest_update":
                replay.update(op.path)
            elif kind in ("upsert", "merge"):
                replay.upsert(op.path)
            elif kind == "delete":
                replay.delete(op.predicate)
            elif kind == "read_version":
                v, n = res
                out.append((f"read_version:{v}", states[v][1] == n, f"rows={n} duckdb={states[v][1]}"))
                continue
            elif kind in ("read_point", "read_range"):
                want = replay.count(op.predicate)
                out.append((kind, res == want, f"rows={res} duckdb={want}"))
                continue
            states[int(res)] = replay.state()
        # earlier passes ran the same op log on fresh tables: same versions, same counts
        last = [(kind, res) for kind, _op, res in self.log]
        for k, log in enumerate(self.earlier_logs):
            got = [(kind, res) for kind, _op, res in log]
            out.append((f"pass_{k}_log", got == last, f"pass {k}={got} last={last}"))
        t = self.table
        want = oracle.expected(replay.state())
        got = oracle.spark_fingerprint(t.read())
        out.append((f"final_v{t.history()[-1]}", got == want, f"spark={got} duckdb={want}"))
        # time travel: full contents at the oldest kept version
        kept = [v for v in t.history() if v in states][:-1]
        if kept:
            got = oracle.spark_fingerprint(t.read(version=kept[0]))
            want = oracle.expected(states[kept[0]])
            out.append((f"version_{kept[0]}", got == want, f"spark={got} duckdb={want}"))
        sql = __spark_entry__.oracle_sql()["ext_166_cdc_ranked_view"]
        got = oracle.spark_fingerprint(
            self.stream.view.read().select("user_id", "rank", "event_id", "value_cents")
        )
        want = oracle.expected(duck.fingerprint(sql))
        out.append(("ext_166_view", got == want, f"spark={got} duckdb={want}"))
        return out

    def record(self, ctx, lat: dict) -> dict:
        import pyarrow.parquet as pq

        # denominators, encoded once as parquet by pyarrow (no engine work)
        change = os.path.join(ctx.run_dir, "change_rows.parquet")
        events = pq.read_table(os.path.join(ctx.data_dir, "events.parquet"))
        pq.write_table(events.select(["event_id", "user_id", "ts", "value"]), change)
        stream_written = self.stream.table_bytes() - self.stream.start_bytes
        t = self.table
        t.vacuum(keep_versions=1)
        snap = os.path.join(ctx.run_dir, "live_snapshot.parquet")
        pq.write_table(pq.read_table(t.data_files()), snap)
        return {
            "commit_p50_s": (percentile(lat["commit"], 0.5), "s"),
            "commit_p90_s": (percentile(lat["commit"], 0.9), "s"),
            "read_p50_s": (percentile(lat["read"], 0.5), "s"),
            "write_amp": (self.bytes_written / max(1, self.change_bytes), "ratio"),
            "space_amp": (sum(dir_files(self.root).values()) / os.path.getsize(snap), "ratio"),
            "batch_p50_s": (percentile(self.stream.batch_s, 0.5), "s"),
            "drain_s": (percentile(lat["drain"], 0.5), "s"),
            "stream_write_amp": (stream_written / os.path.getsize(change), "ratio"),
        }

    def read_stats(self, ctx) -> float | None:
        """Files a pruned read scans over files in the snapshot (at the
        end of the run)."""
        t = self.table
        total = len(t.data_files())
        ratios = [
            len(t.candidate_files(op.predicate)) / max(1, total)
            for kind, op, _res in self.log
            if kind in ("read_point", "read_range")
        ]
        return sum(ratios) / len(ratios) if ratios else None

    @property
    def view_bytes_per_batch(self) -> list[int]:
        return self.stream.view_bytes_per_batch


WORKLOADS = {w.name: w for w in (InteractiveSQL, TableDML)}
