"""DuckDB-side output checks.

The fingerprint is the one the repository's oracle sweep uses: sorted
column names, row count, and a sha256 over the sorted, canonically
rendered rows (floats by ``repr``), so a check here agrees with the
registry's own correctness gate.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import duckdb

# overridden by the self-test to prove a wrong expectation fails the run
CORRUPT_EXPECTED = os.environ.get("PERFBENCH_CORRUPT_EXPECTED") == "1"


def _canon(val) -> str:
    if val is None:
        return "NULL"
    if isinstance(val, float):
        return "NaN" if math.isnan(val) else repr(val)
    if isinstance(val, (datetime.datetime, datetime.date)):
        return val.isoformat()
    return str(val)


def fingerprint(cols: list[str], rows) -> tuple:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return sorted(cols), len(lines), digest


def expected(fp: tuple) -> tuple:
    """The expected side of a comparison (deliberately wrong when the
    self-test asks for a corrupted expectation)."""
    if CORRUPT_EXPECTED:
        return fp[0], fp[1], "0" * 16
    return fp


def _parser(values: list):
    """How to read a displayed (string) cell back as the type the
    oracle's column holds, so the two compare as values."""
    sample = next((v for v in values if v is not None), None)
    if isinstance(sample, bool):
        return lambda s: s == "true"
    if isinstance(sample, (int, float, decimal.Decimal)):
        return type(sample)
    if isinstance(sample, datetime.datetime):
        return datetime.datetime.fromisoformat
    if isinstance(sample, datetime.date):
        return datetime.date.fromisoformat
    return str


def _cell(val):
    return "NaN" if isinstance(val, float) and math.isnan(val) else val


def preview_matches(pdf, cols: list[str], rows: list[tuple], n: int = 100) -> tuple[bool, str]:
    """Whether a 100-row preview (every cell stringified for display) is
    the first ``n`` rows of the oracle's ordered result."""
    want_n = min(n, len(rows))
    if len(pdf) != want_n or sorted(pdf.columns) != sorted(cols):
        return False, f"preview {len(pdf)} rows {list(pdf.columns)}; want {want_n} rows {cols}"
    idx = [cols.index(c) for c in pdf.columns]
    parse = [_parser([r[i] for r in rows]) for i in idx]
    got = [
        tuple(None if v is None else _cell(p(v)) for p, v in zip(parse, row))
        for row in pdf.itertuples(index=False)
    ]
    want = [tuple(_cell(r[i]) for i in idx) for r in rows[:want_n]]
    bad = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w), None)
    if bad is None:
        return True, f"{want_n} rows"
    return False, f"row {bad}: preview={got[bad]} duckdb={want[bad]}"


def spark_fingerprint(df) -> tuple:
    return fingerprint(df.columns, [tuple(r) for r in df.collect()])


class Duck:
    """An in-process DuckDB with one view per generated table."""

    def __init__(self, data_dir: str, tables) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def fingerprint(self, sql: str) -> tuple:
        return fingerprint(*self.rows(sql))

    def close(self) -> None:
        self.con.close()


class DmlReplay:
    """Replays the table_dml op log in DuckDB with the reference's
    keyed-update semantics: NULL-key worksheet rows are skipped, and a
    key repeated in one worksheet resolves last-write-wins in sheet
    order (tool:282-312). ``state()`` fingerprints the live rows."""

    COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]

    def __init__(self, duck: Duck) -> None:
        self.con = duck.con
        self.con.execute(
            "CREATE TABLE t AS SELECT o_orderkey, o_custkey, o_orderstatus, "
            "o_totalprice, o_orderpriority FROM orders"
        )

    def _load_source(self, path: str) -> None:
        self.con.execute("DROP TABLE IF EXISTS src")
        # LWW: the last occurrence of a key in file order wins
        self.con.execute(
            f"""CREATE TABLE src AS
            SELECT * EXCLUDE (rn, file_row_number) FROM (
              SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY file_row_number DESC) AS rn
              FROM read_parquet('{path}', file_row_number = true)
              WHERE o_orderkey IS NOT NULL)
            WHERE rn = 1"""
        )

    def append(self, path: str) -> None:
        self.con.execute(f"INSERT INTO t SELECT {', '.join(self.COLS)} FROM read_parquet('{path}')")

    def update(self, path: str) -> None:
        self._load_source(path)
        sets = ", ".join(f"{c} = src.{c}" for c in self.COLS[1:])
        self.con.execute(f"UPDATE t SET {sets} FROM src WHERE t.o_orderkey = src.o_orderkey")

    def upsert(self, path: str) -> None:
        self.update(path)  # leaves src loaded
        self.con.execute(
            f"INSERT INTO t SELECT {', '.join(self.COLS)} FROM src "
            "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)"
        )

    def delete(self, predicate: str) -> None:
        self.con.execute(f"DELETE FROM t WHERE {predicate}")

    def count(self, predicate: str | None = None) -> int:
        where = f" WHERE {predicate}" if predicate else ""
        return self.con.execute(f"SELECT count(*) FROM t{where}").fetchone()[0]

    def state(self) -> tuple:
        res = self.con.execute(f"SELECT {', '.join(self.COLS)} FROM t")
        return fingerprint(self.COLS, res.fetchall())
