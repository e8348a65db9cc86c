"""Catalog facade (SRC-02..05, DDL-02 — SURVEY §2.1, §4.3 item 2).

Reproduces the shapes the reference surfaces from
INFORMATION_SCHEMA / sys.databases (tool:155-239) on top of
``spark.catalog`` plus a table-property convention for primary keys
(Spark has no enforced PKs — SURVEY §1.1).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

PK_PROPERTY = "sparketl.primary_key"


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


@dataclass
class ColumnInfo:
    name: str
    type: str
    nullable: bool
    default: str | None = None


class Catalog:
    """Engine catalog: databases, tables, columns, primary keys.

    Mirrors SQLManager.get_databases/get_tables/get_table_design/
    get_primary_keys (tool:155-239) with Spark-native metadata.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # tool:155-170 — list accessible non-system DBs, sorted. The
    # listing methods of spark.catalog iterate with toLocalIterator(),
    # one Spark job per partition; SHOW commands and the resolved
    # schema return the same metadata without launching any job.
    def databases(self) -> list[str]:
        return sorted(r[0] for r in self.spark.sql("SHOW DATABASES").collect())

    # tool:146-153 — USE [db].
    def use_database(self, db: str) -> None:
        self.spark.catalog.setCurrentDatabase(db)

    # tool:173-181 — base tables of a DB.
    def tables(self, db: str | None = None) -> list[str]:
        db = db or self.spark.catalog.currentDatabase()
        rows = self.spark.sql(f"SHOW TABLES IN {_quote(db)}").collect()
        return sorted(
            r["tableName"]
            for r in rows
            if not r["isTemporary"]
            and self.spark.catalog.getTable(
                f"{_quote(db)}.{_quote(r['tableName'])}"
            ).tableType
            in ("MANAGED", "EXTERNAL")
        )

    # tool:183-220 — column name/type/nullable/default. The reference's
    # get_table_columns surfaces COLUMN_DEFAULT (tool:204); Spark keeps
    # the DDL DEFAULT expression in StructField.metadata under
    # CURRENT_DEFAULT (the expression future inserts use — the
    # INFORMATION_SCHEMA analogue), so it is read from the resolved
    # schema, which also gives the column types (CHAR/VARCHAR resolve
    # to string, as listColumns reports them).
    def table_design(self, table: str) -> dict[str, ColumnInfo]:
        try:
            fields = self.spark.table(table).schema.fields
        except Exception:  # noqa: BLE001 — e.g. views of dropped tables
            return {
                c.name: ColumnInfo(name=c.name, type=c.dataType, nullable=c.nullable)
                for c in self.spark.catalog.listColumns(table)
            }
        return {
            f.name: ColumnInfo(
                name=f.name,
                type=f.dataType.simpleString(),
                nullable=f.nullable,
                default=(f.metadata or {}).get("CURRENT_DEFAULT"),
            )
            for f in fields
        }

    # tool:222-239 — PK columns; stored as a table property because
    # Spark has no constraint catalog.
    def primary_keys(self, table: str) -> list[str]:
        try:
            rows = self.spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        except Exception:  # noqa: BLE001 — temp views have no properties
            return []
        props = {r["key"]: r["value"] for r in rows}
        raw = props.get(PK_PROPERTY, "")
        return [c.strip() for c in raw.split(",") if c.strip()]

    def set_primary_key(self, table: str, columns: list[str]) -> None:
        cols = ",".join(columns)
        self.spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES ('{PK_PROPERTY}'='{cols}')"
        )

    def validate_primary_key(self, table: str, columns: list[str]) -> bool:
        """Uniqueness check at write time (SURVEY §1.1 PK row)."""
        df = self.spark.table(table)
        dup = df.groupBy(*columns).count().filter("count > 1").limit(1)
        return len(dup.take(1)) == 0
