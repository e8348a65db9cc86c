"""``io.load_table`` infers each parquet schema once per session and file
version: repeat loads launch no Spark job, yet every load is a fresh
relation that sees rewritten files, and results equal an uncached read."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sparketl import io
from tests.conftest import SF_SMOKE, count_jobs


def test_repeat_load_tables_launches_no_jobs(spark):
    io.load_tables(spark, SF_SMOKE)
    tables, jobs = count_jobs(spark, lambda: io.load_tables(spark, SF_SMOKE))
    assert set(tables) == set(io.TABLE_NAMES)
    assert jobs == 0


def test_rewritten_file_is_picked_up(spark, tmp_path):
    path = io.table_path(str(tmp_path), "t")
    pq.write_table(pa.table({"k": [1, 2, 3, 4, 5]}), path)
    first = io.load_table(spark, str(tmp_path), "t")
    assert first.count() == 5
    _, jobs = count_jobs(spark, lambda: io.load_table(spark, str(tmp_path), "t"))
    assert jobs == 0

    pq.write_table(pa.table({"k": [7, 8], "extra": ["a", "b"]}), path)
    again = io.load_table(spark, str(tmp_path), "t")
    assert again.columns == ["k", "extra"]
    assert sorted(tuple(r) for r in again.collect()) == [(7, "a"), (8, "b")]


def test_directory_table_sees_added_file(spark, tmp_path):
    path = io.table_path(str(tmp_path), "d")
    os.makedirs(path)
    pq.write_table(pa.table({"k": [1, 2]}), os.path.join(path, "part-0.parquet"))
    assert io.load_table(spark, str(tmp_path), "d").count() == 2
    pq.write_table(
        pa.table({"k": [3], "extra": [1.5]}), os.path.join(path, "part-1.parquet")
    )
    assert io.load_table(spark, str(tmp_path), "d").count() == 3
    stamp, _ = io._SCHEMAS[spark][os.path.abspath(path)]
    assert [f for f, _size, _mtime in stamp] == ["part-0.parquet", "part-1.parquet"]


def test_new_session_starts_with_empty_cache(spark):
    io.load_table(spark, SF_SMOKE, "region")
    other = spark.newSession()
    assert other not in io._SCHEMAS
    _, jobs = count_jobs(other, lambda: io.load_table(other, SF_SMOKE, "region"))
    assert jobs >= 1  # a miss infers the schema with a Spark job
    assert set(io._SCHEMAS[other]) == {os.path.abspath(io.table_path(SF_SMOKE, "region"))}


def test_missing_path_raises_spark_error(spark, tmp_path):
    missing = str(tmp_path / "absent")
    with pytest.raises(Exception) as raw:
        spark.read.parquet(io.table_path(missing, "nope"))
    for _ in range(2):
        with pytest.raises(Exception) as got:
            io.load_table(spark, missing, "nope")
        assert type(got.value) is type(raw.value)
        assert not isinstance(got.value, FileNotFoundError)


def test_self_join_of_two_loads_resolves(spark):
    a = io.load_table(spark, SF_SMOKE, "orders")
    b = io.load_table(spark, SF_SMOKE, "orders")
    n = a.count()
    assert a.join(b, a["o_orderkey"] == b["o_orderkey"]).count() == n


def test_hit_equals_miss_for_every_fixture_table(spark):
    keys = {n: os.path.abspath(io.table_path(SF_SMOKE, n)) for n in io.TABLE_NAMES}
    cache = io._SCHEMAS.setdefault(spark, {})
    for key in keys.values():
        cache.pop(key, None)
    miss = {n: io.load_table(spark, SF_SMOKE, n) for n in io.TABLE_NAMES}
    assert all(k in cache for k in keys.values())
    hit = {n: io.load_table(spark, SF_SMOKE, n) for n in io.TABLE_NAMES}
    for n in io.TABLE_NAMES:
        assert hit[n].schema == miss[n].schema, n
    assert dict(hit["events"].dtypes)["ts"] == "timestamp"
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(hit["events"]) == rows(miss["events"])

