"""The catalog facade answers from SHOW commands and resolved schemas,
launching no Spark job, and returns what the ``spark.catalog`` listing
methods (one job per partition through ``toLocalIterator``) returned."""

import pytest

from sparketl.catalog import Catalog
from tests.conftest import count_jobs


def _listing(spark, table):
    """The refresh as the spark.catalog listing methods answer it."""
    db = spark.catalog.currentDatabase()
    return (
        sorted(d.name for d in spark.catalog.listDatabases()),
        sorted(
            t.name
            for t in spark.catalog.listTables(db)
            if t.tableType in ("MANAGED", "EXTERNAL")
        ),
        [(c.name, c.dataType, c.nullable) for c in spark.catalog.listColumns(table)],
    )


def _refresh(cat, table):
    design = cat.table_design(table)
    return (
        cat.databases(),
        cat.tables(),
        [(c.name, c.type, c.nullable) for c in design.values()],
    ), cat.primary_keys(table)


@pytest.fixture()
def catalog_objects(spark, tmp_path):
    spark.sql(
        "SELECT CAST(1.5 AS DECIMAL(10,2)) d, array(1, 2) a, "
        "named_struct('x', 1, 'y', 'q') s, map('k', 1.0D) m, "
        "current_timestamp() ts, current_date() dt, CAST(1 AS TINYINT) ti, "
        "CAST('ab' AS BINARY) b"
    ).createOrReplaceTempView("listing_view")
    spark.sql(
        f"CREATE TABLE listing_pk (id BIGINT, v STRING) USING parquet "
        f"LOCATION '{tmp_path}/listing_pk'"
    )
    spark.sql(
        f"CREATE TABLE listing_cv (id INT, c CHAR(5), v VARCHAR(10)) USING parquet "
        f"LOCATION '{tmp_path}/listing_cv'"
    )
    Catalog(spark).set_primary_key("listing_pk", ["id"])
    yield
    spark.sql("DROP TABLE IF EXISTS listing_pk")
    spark.sql("DROP TABLE IF EXISTS listing_cv")
    spark.catalog.dropTempView("listing_view")


@pytest.mark.parametrize(
    "table, keys",
    [("listing_view", []), ("listing_pk", ["id"]), ("listing_cv", [])],
)
def test_refresh_launches_no_jobs_and_matches_listing(spark, catalog_objects, table, keys):
    cat = Catalog(spark)
    _refresh(cat, table)  # first resolution of the table is not measured
    (got, pks), jobs = count_jobs(spark, lambda: _refresh(cat, table))
    assert jobs == 0
    assert got == _listing(spark, table)
    assert pks == keys
    assert {"listing_pk", "listing_cv"} <= set(got[1])
    assert "listing_view" not in got[1]


def test_tables_excludes_views(spark, catalog_objects):
    spark.sql("CREATE OR REPLACE VIEW listing_pview AS SELECT * FROM listing_pk")
    try:
        assert "listing_pview" not in Catalog(spark).tables()
        assert Catalog(spark).tables() == _listing(spark, "listing_pk")[1]
    finally:
        spark.sql("DROP VIEW IF EXISTS listing_pview")
