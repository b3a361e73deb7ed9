"""Live relational-database load path (reference etl.js:758-829).

The reference's load phase INSERTs badgerfish '@' fields and related
entity tables into a live SQL database (MySQL via Sequelize; spec
src/test/specs/etl.spec.js). This module performs the same contract
against a real embedded SQL database (DuckDB, present in-container):
CREATE TABLE from the DataFrame schema, key-based idempotent upsert,
and read-back into Spark.

Scale honesty: the transfer is driver-side Arrow, which is the correct
shape for this target — a single-node RDBMS is itself the bottleneck,
exactly as in the reference. Loading into a DISTRIBUTED store goes
through sinks.upsert_parquet_table / JDBC partitioned writes instead;
this module exists to prove the live-DB contract end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from cpx_etl_spark.sources.registry import local_frame

_SPARK_TO_SQL = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
    "binary": "BLOB",
}


def _ddl(table: str, dtypes: list[tuple[str, str]], keys: list[str]) -> str:
    cols = ", ".join(
        f'"{name}" {_SPARK_TO_SQL.get(dtype, "VARCHAR")}' for name, dtype in dtypes
    )
    pk = ", ".join(f'"{k}"' for k in keys)
    return f'CREATE TABLE IF NOT EXISTS "{table}" ({cols}, PRIMARY KEY ({pk}))'


def load_to_database(df: DataFrame, db_path: str, table: str, keys: list[str]) -> int:
    """Idempotent PK-upsert of a DataFrame into a live DuckDB table
    (incoming wins, the reference's insert-or-update semantics).
    Returns the table's row count after the load."""
    import duckdb

    arrow_tbl = df.toArrow()
    con = duckdb.connect(db_path)
    try:
        con.execute(_ddl(table, df.dtypes, keys))
        con.register("_incoming", arrow_tbl)
        cols = ", ".join(f'"{c}"' for c, _ in df.dtypes)
        updates = ", ".join(
            f'"{c}" = excluded."{c}"' for c, _ in df.dtypes if c not in keys
        )
        con.execute("BEGIN")
        con.execute(
            f'INSERT INTO "{table}" ({cols}) SELECT {cols} FROM _incoming '
            f"ON CONFLICT DO UPDATE SET {updates}"
            if updates
            else f'INSERT OR IGNORE INTO "{table}" ({cols}) SELECT {cols} FROM _incoming'
        )
        con.execute("COMMIT")
        return con.execute(f'SELECT COUNT(*) FROM "{table}"').fetchone()[0]
    finally:
        con.close()


def read_from_database(spark: SparkSession, db_path: str, query: str) -> DataFrame:
    """Run SQL against the live database and lift the result into Spark
    (Arrow interchange, schema preserved)."""
    import duckdb

    con = duckdb.connect(db_path, read_only=True)
    try:
        tbl = con.execute(query).fetch_arrow_table()
    finally:
        con.close()
    return local_frame(spark, tbl, from_arrow_schema(tbl.schema))
