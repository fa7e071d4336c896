"""Result fingerprints for the analytics slice, and the DuckDB side.

A fingerprint is ``(row_count, sha256)`` over the result rendered
order-insensitively: columns sorted by name, every cell normalized to
a string, rows sorted.  The same normalization is applied to Spark
``collect()`` rows and DuckDB ``fetchall()`` rows, so equal values give
equal fingerprints whichever engine produced them.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

# The analytics slice: oracle-backed registry queries covering log
# analytics, ingest transforms, iterative clustering, Python workers,
# point-in-time joins and sketches.  Kept to seven queries so that a run
# stays under a minute: one pass of first executions takes ~15 s on a
# quiet 4-core host and ~25 s on a contended one.
SLICE = [
    "l01_status_rollup", "l09_rolling_anomaly", "i02_enrich_json",
    "s09_kmeans", "u04_grouped_map_zscore",
    "w09_point_in_time_matrix", "q84_approx_distinct_gate",
]
_MIDNIGHT = datetime.time(0, 0, 0)


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, datetime.datetime):
        if v.time() == _MIDNIGHT and v.tzinfo is None:
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(norm_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return len(lines), h.hexdigest()


def duckdb_fingerprints(data_dir: str, names: list[str], threads: int = 1) -> dict:
    """Run each query's oracle SQL over the parquet tables in
    ``data_dir``; returns ``{name: [row_count, sha256]}``."""
    import os

    import duckdb

    from kinesis_log_streamer_spark.plans.oracles import ORACLES

    con = duckdb.connect(config={"threads": threads})
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    out = {}
    for name in names:
        cur = con.execute(ORACLES[name])
        cols = [d[0] for d in cur.description]
        out[name] = list(fingerprint(cols, cur.fetchall()))
    con.close()
    return out
