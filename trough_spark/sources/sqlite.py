"""Distributed bulk reader / writer for trough's native storage format:
many small SQLite files, one per segment (reference: trough/sync.py:179-253,
HDFS layout `<prefix>/<id>.sqlite` at sync.py:1176).

This is the migration path of the north star's "bulk load / batch read over
SQLite shards": the *distribution* is Spark's (a DataFrame of shard paths,
one task per batch of shards), and the *per-shard* read is stdlib `sqlite3`
— present on every executor, no extra deps.

Scale design:
- the shard list is a DataFrame: repartitioned so each task handles a
  bounded number of files; 100k shards = a normal-sized task set, and
  reading is embarrassingly parallel;
- each task streams rows out in Arrow batches (mapInPandas), so a shard
  never materializes as Python objects beyond one cursor fetch block;
- declared Spark schema drives type coercion (SQLite is dynamically typed —
  SURVEY §1.2); unparseable values follow non-ANSI semantics (null);
- file access uses local paths (local FS / fuse mounts).  On HDFS/S3 a
  real deployment copies shard files to task-local scratch first — the hook
  is `localize`, injectable for tests and for cluster FS clients.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Callable

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

FETCH_BLOCK = 10_000  # rows per cursor fetch / Arrow batch


def _coerce_series(values, dtype: T.DataType):
    import pandas as pd

    if isinstance(dtype, T.LongType):
        return pd.to_numeric(pd.Series(values), errors="coerce").astype("Int64")
    if isinstance(dtype, T.DoubleType):
        return pd.to_numeric(pd.Series(values), errors="coerce").astype("float64")
    if isinstance(dtype, T.StringType):
        return pd.Series([None if v is None else str(v) for v in values], dtype="object")
    if isinstance(dtype, T.BooleanType):
        return pd.Series([None if v is None else bool(v) for v in values], dtype="object")
    if isinstance(dtype, T.BinaryType):
        return pd.Series(
            [None if v is None else (bytes(v) if not isinstance(v, bytes) else v) for v in values],
            dtype="object",
        )
    if isinstance(dtype, (T.TimestampType, T.DateType)):
        import pandas as pd

        s = pd.to_datetime(pd.Series(values), errors="coerce")
        return s.dt.date if isinstance(dtype, T.DateType) else s
    return pd.Series(values, dtype="object")


def read_sqlite_shards(
    spark: SparkSession,
    shard_paths: dict[str, str],
    table: str,
    schema: T.StructType,
    tasks: int | None = None,
    localize: Callable[[str], str] | None = None,
) -> DataFrame:
    """Read ``table`` from many SQLite shard files as ONE DataFrame with a
    ``segment_id`` column.

    ``shard_paths`` maps segment_id → sqlite file path.  The result schema is
    ``schema`` + segment_id (string).
    """
    out_schema = T.StructType(list(schema.fields) + [T.StructField("segment_id", T.StringType())])
    cols = [f.name for f in schema.fields]
    dtypes = {f.name: f.dataType for f in schema.fields}
    items = sorted(shard_paths.items())
    paths_df = spark.createDataFrame(items, "segment_id string, path string")
    if tasks is None:
        tasks = max(1, min(len(items), spark.sparkContext.defaultParallelism * 2))
    paths_df = paths_df.repartition(tasks)

    def reader(batches):
        import pandas as pd

        for pdf in batches:
            for seg, path in zip(pdf["segment_id"], pdf["path"]):
                local = localize(path) if localize is not None else path
                conn = sqlite3.connect(f"file:{local}?mode=ro", uri=True)
                try:
                    cur = conn.execute(
                        "SELECT {} FROM {}".format(
                            ", ".join(f'"{c}"' for c in cols), f'"{table}"'
                        )
                    )
                    while True:
                        rows = cur.fetchmany(FETCH_BLOCK)
                        if not rows:
                            break
                        data = {
                            c: _coerce_series([r[i] for r in rows], dtypes[c])
                            for i, c in enumerate(cols)
                        }
                        data["segment_id"] = pd.Series([seg] * len(rows))
                        yield pd.DataFrame(data)
                finally:
                    conn.close()

    return paths_df.mapInPandas(reader, schema=out_schema)


def list_sqlite_tables(path: str) -> list[str]:
    """Table names inside one shard (the shell's SHOW TABLES rewrites to
    sqlite_master exactly like this — reference shell/__init__.py:149-155)."""
    conn = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        cur = conn.execute(
            "SELECT name FROM sqlite_master WHERE type = 'table' AND name NOT LIKE 'sqlite_%'"
        )
        return sorted(r[0] for r in cur.fetchall())
    finally:
        conn.close()


def sqlite_table_schema(path: str, table: str) -> T.StructType:
    """Derive a Spark schema from a shard's declared column types via
    SQLite type affinity (SURVEY §1.2)."""
    from trough_spark.store import sqlite_type_to_spark

    conn = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        cur = conn.execute(f'PRAGMA table_info("{table}")')
        return T.StructType(
            [T.StructField(r[1], sqlite_type_to_spark(r[2] or ""), True) for r in cur.fetchall()]
        )
    finally:
        conn.close()


def export_segment_sqlite(store, segment_id: str, out_path: str) -> str:
    """Write one segment back to a single SQLite file — the reverse migration
    (a trough reader can open the result).  Segments are small by design
    (the reference's whole thesis), so a driver-side write is appropriate."""
    type_map = {
        T.LongType(): "INTEGER",
        T.DoubleType(): "REAL",
        T.StringType(): "TEXT",
        T.BinaryType(): "BLOB",
        T.BooleanType(): "INTEGER",
    }
    conn = sqlite3.connect(out_path)
    try:
        for table in store._segment_tables(segment_id):
            ts = store._table_schema(segment_id, table)
            cols_ddl = ", ".join(
                f'"{n}" {type_map.get(t, "TEXT")}' for n, t in ts.fields
            )
            conn.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({cols_ddl})')
            rows = store._read_partition(segment_id, table).collect()
            placeholders = ", ".join("?" for _ in ts.fields)
            conn.executemany(
                f'INSERT INTO "{table}" VALUES ({placeholders})',
                [
                    tuple(_to_sqlite(r[n]) for n, _ in ts.fields)
                    for r in rows
                ],
            )
        conn.commit()
    finally:
        conn.close()
    return out_path


def _to_sqlite(v):
    import datetime as dt

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def import_sqlite_segment(store, segment_id: str, sqlite_path: str, schema_id: str = "default"):
    """Migrate one trough shard file into the store: every user table in the
    shard becomes a partition of the corresponding engine table."""
    store.provision(segment_id, schema_id)
    info = store._segment_info(segment_id)
    for table in list_sqlite_tables(sqlite_path):
        schema = sqlite_table_schema(sqlite_path, table)
        df = read_sqlite_shards(
            store.spark, {segment_id: sqlite_path}, table, schema
        ).drop("segment_id")
        from trough_spark.store import TableSchema

        store._save_table(
            info, TableSchema(table, [(f.name, f.dataType) for f in schema.fields])
        )
        df.write.mode("overwrite").parquet(store._partition_path(table, segment_id))
    return store
