#!/usr/bin/env python
"""Analytics query profiler: for each named query,

* time plan construction (driver-side Python+Catalyst cost),
* time N noop-sink executions (computation only),
* time N bench-methodology collects (what bench.py times),
* with ``--tag``, write ``df.explain('formatted')`` to
  <plans-dir>/<name>_<tag>.txt.

Usage: python scripts/profile_queries.py [--tag before|after] [--plans-dir DIR]
       [--runs N] [--sf sf_dir] query [query ...]
Prints one JSON line per query so runs are easy to diff.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from kinesis_log_streamer_spark.plans import queries as Q  # noqa: E402
from kinesis_log_streamer_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default=None, help="write <plans-dir>/<q>_<tag>.txt")
    ap.add_argument("--plans-dir", default=os.path.join(_REPO, "plans"),
                    help="output directory for --tag plans")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-noop", action="store_true",
                    help="skip noop timing (for conf-flipping queries)")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark("profile")
    # Warm-up: same as bench.py so first-sample JIT/page-cache cost is
    # excluded from every profile row.
    Q.q01_pricing_summary(spark, args.sf).collect()
    Q.s01_cosine_topk(spark, args.sf).collect()

    if args.tag:
        os.makedirs(args.plans_dir, exist_ok=True)

    for name in args.queries:
        fn = Q.REGISTRY[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")

        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        t_plan = time.perf_counter() - t0

        if args.tag:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"),
                      "w") as fh:
                fh.write(buf.getvalue())

        noop: list[float] = []
        if not args.no_noop:
            for _ in range(args.runs):
                spark.catalog.clearCache()
                d = fn(spark, args.sf)
                t0 = time.perf_counter()
                d.write.format("noop").mode("overwrite").save()
                noop.append(round(time.perf_counter() - t0, 3))

        coll: list[float] = []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, args.sf).collect()
            coll.append(round(time.perf_counter() - t0, 3))

        print(json.dumps({
            "query": name,
            "plan_sec": round(t_plan, 3),
            "noop_sec": noop,
            "collect_sec": coll,
        }), flush=True)
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    sys.exit(main())
