"""Seeded log corpus for the ingest workload, and its expected sink form.

``access_backlog`` sends 15-field Apache access records as JSON (the
``--format json`` path).  Every record carries its sequence number, so
each one is unique and a sink record maps back to the record it came
from.

:func:`expected` is an independent plain-Python rendering of what the
CLI must deliver for a payload: the ``-I`` merge.  Sink data is compared
in :func:`canonical` form (sorted keys), so formatting may change but
content may not.
"""

from __future__ import annotations

import datetime as dt
import json
import random

INGEST_WORKLOADS = {
    # workload: (CLI arguments, warm-up records, sink entry)
    "access_backlog": (
        ["--streaming", "-f", "json", "-I", "LogFile=HTTPAccessLog", "Test"],
        200,
        {"LogFile": "HTTPAccessLog"},
    ),
}
BACKLOG_RECORDS_PER_SECOND = 1000  # backlog size per second of --seconds
WRITE_BYTES = 65536  # backlog write size

_BASE_TIME = dt.datetime(2026, 8, 13, 10, 15, 30, tzinfo=dt.timezone.utc)
_METHODS = ["GET", "GET", "GET", "GET", "POST", "HEAD", "PUT", "DELETE"]
_PATHS = ["/", "/index.html", "/api/v1/items", "/static/app.js", "/login", "/search", "/img/logo.png"]
_STATUS = [200, 200, 200, 200, 200, 304, 301, 404, 403, 500, 503]
_AGENTS = [
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/126.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_5) Gecko/20100101 Firefox/128.0",
    "curl/8.5.0",
    'Go-http-client/1.1 "probe"',
]


def _ip(rng: random.Random) -> str:
    return f"203.0.{rng.randrange(256)}.{rng.randrange(1, 255)}"


def access_record(rng: random.Random, seq: int) -> dict:
    """One A1 access record (Apache LogFormat field set)."""
    method = rng.choice(_METHODS)
    path = rng.choice(_PATHS)
    query = f"?rid={seq}" + (f"&q={rng.choice(['spark', 'logs', 'x y'])}" if rng.random() < 0.3 else "")
    client = _ip(rng)
    start = _BASE_TIME + dt.timedelta(microseconds=seq * 1733)
    return {
        "ClientAddress": client,
        "PeerAddress": client if rng.random() < 0.8 else _ip(rng),
        "Protocol": "HTTP/1.1",
        "QueryString": query,
        "RequestHandler": rng.choice(["file-handler", "proxy-server", "-"]),
        "RequestLine": f"{method} {path}{query} HTTP/1.1",
        "RequestMethod": method,
        "RequestTimeMicroseconds": rng.randrange(80, 250_000),
        "ResponseBodySize": rng.randrange(0, 65_536),
        "Referer": rng.choice(["-", "https://example.com/", "https://example.com/search?q=spark"]),
        "StartTime": start.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
        "Status": rng.choice(_STATUS),
        "User": rng.choice(["-", "-", "alice", "bob"]),
        "UserAgent": rng.choice(_AGENTS),
        "UrlPath": path,
    }


def record_count(workload: str, seconds: float) -> int:
    """Measured records offered in one run (warm-up excluded)."""
    return int(seconds * BACKLOG_RECORDS_PER_SECOND)


def payloads(workload: str, seed: int, n: int) -> list[str]:
    """``n`` wire payloads (newline-terminated) for ``workload``."""
    rng = random.Random(seed)
    return [json.dumps(access_record(rng, i), separators=(",", ":")) + "\n" for i in range(n)]


def canonical(data: str) -> str:
    return json.dumps(json.loads(data), sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def expected(workload: str, payload: str) -> str:
    """Canonical sink data the CLI must produce for ``payload``."""
    entries = INGEST_WORKLOADS[workload][2]
    return canonical(json.dumps({**json.loads(payload), **entries}))
