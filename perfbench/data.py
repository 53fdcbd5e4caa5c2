"""Input data: TPC-H sf0.1 lineitem and orders from DuckDB's dbgen.

dbgen output is fixed by the TPC-H specification, so the tables are the
same on every run; the workload seed picks which rows and segments the ops
touch.  The tables are generated once per checkout into a cache directory
(the first run pays ~3 s for it) and read from there afterwards.

    python3 perfbench/data.py CACHE_DIR   # what ``tpch`` runs on a cache miss

Segments: TPC-H order keys come in runs of 8 per block of 32, so the
segment of an order is ``(orderkey // 32) % 64`` (``orderkey % 64`` would
leave 48 of 64 segments empty).  Both tables carry it as ``seg``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

SF = 0.1
SEGMENTS = 64
TABLES = {"lineitem": "l_orderkey", "orders": "o_orderkey"}  # table: order key


def seg_name(i: int) -> str:
    return "s%02d" % i


def seg_sql(key_col: str) -> str:
    """DuckDB expression for the segment name of an order key column."""
    return f"'s' || lpad((({key_col} // 32) % {SEGMENTS})::VARCHAR, 2, '0')"


def tpch(cache_dir: str) -> dict:
    """The input tables and what the client needs to know of them:

    - ``paths``: {table: parquet path} for lineitem and orders, each with ``seg``;
    - ``ddl``: {table: Spark DDL schema string};
    - ``user_bytes``: {table: ``logical_bytes`` of the table without ``seg``};
    - ``orderkeys``: {segment: sorted distinct lineitem order keys}.

    DuckDB generates and describes the tables in a child process, so its
    memory never counts in the benchmark client's peak RSS."""
    meta_path = os.path.join(cache_dir, "meta.json")
    if not os.path.exists(meta_path):
        subprocess.run([sys.executable, os.path.abspath(__file__), cache_dir], check=True, timeout=600)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["paths"] = {t: os.path.join(cache_dir, f"{t}.parquet") for t in TABLES}
    return meta


def generate(cache_dir: str) -> None:
    """Write the tables and ``meta.json`` (last, so its presence means the
    cache is complete)."""
    import duckdb

    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    meta: dict = {"ddl": {}, "user_bytes": {}}
    try:
        con.execute(f"CALL dbgen(sf={SF})")
        for table, key in TABLES.items():
            path = os.path.join(cache_dir, f"{table}.parquet")
            con.execute(
                f"COPY (SELECT *, {seg_sql(key)} AS seg FROM {table}) "
                f"TO '{path}.tmp' (FORMAT parquet)"
            )
            os.replace(path + ".tmp", path)
            meta["ddl"][table] = spark_ddl(con, path)
            cols = [c for c, *_ in con.execute(f"DESCRIBE {table}").fetchall()]
            meta["user_bytes"][table] = logical_bytes(con, table, cols)
        meta["orderkeys"] = dict(
            con.execute(
                f"SELECT {seg_sql('l_orderkey')} AS seg, "
                "list(DISTINCT l_orderkey ORDER BY l_orderkey) "
                "FROM lineitem GROUP BY ALL ORDER BY seg"
            ).fetchall()
        )
    finally:
        con.close()
    tmp = os.path.join(cache_dir, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(cache_dir, "meta.json"))


_SPARK_TYPES = {
    "INTEGER": "INT",
    "BIGINT": "BIGINT",
    "DATE": "DATE",
    "VARCHAR": "STRING",
    "DOUBLE": "DOUBLE",
}


def spark_ddl(con, parquet: str) -> str:
    """Spark DDL schema string of a parquet file, so Spark reads it without
    a schema-inference job."""
    cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{parquet}')").fetchall()
    parts = []
    for name, typ, *_ in cols:
        spark_t = typ if typ.startswith("DECIMAL") else _SPARK_TYPES[typ]
        parts.append(f"`{name}` {spark_t}")
    return ", ".join(parts)


def logical_bytes(con, relation: str, cols: list[str]) -> int:
    """User bytes of ``relation``: the summed length of every stored value's
    text form (NULL counts 0).  The denominator of ``space_amp``."""
    total = " + ".join(f"coalesce(length({c}::VARCHAR), 0)" for c in cols)
    return int(con.execute(f"SELECT sum({total}) FROM {relation}").fetchone()[0])


def row_text_bytes(row) -> int:
    """``logical_bytes`` of one Python row."""
    return sum(len(str(v)) for v in row if v is not None)


if __name__ == "__main__":
    generate(sys.argv[1])
